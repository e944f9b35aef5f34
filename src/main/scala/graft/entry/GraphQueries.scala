package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Baskets, Bpe, Cdc, Classifier, CorpusStats, CountMin, Curation, Dedup, Funnel, Geo, Graphs, HeavyHitters, Intervals, Ivf, Packing, Pq, PrefixMatch, Profiling, Retrieval, Sampling, Similarity, Skew, Stats, TemplateFilters, Timeseries}
import graft.functions.{DedupExpr, TextAnalytics}
import graft.EntryContext._

/** Graph analytics over the k-NN edge set: triangles, PageRank/PPR/HITS, label propagation, BFS, link prediction, structure metrics.
  *
  * Declarations (query lambda + DuckDB oracle SQL) are
  * merged into [[SparkEntry]]'s registry; see SURVEY.md
  * §2/§8 and docs/QUERIES.md for the full index.
  */
private[graft] object GraphQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // Single-source BFS hop distances over the symmetrized k-NN graph:
    // frontier iteration, one vertex-keyed join + min-aggregate per
    // round — oracled against a DuckDB recursive CTE over the same graph
    "q_bfs" -> ((s, dir) =>
      Graphs.bfsDistances(s.read.parquet(knnEdgesFixture(s, dir)),
          "src", "dst", sourceId = 0L, maxHops = 4)
        .orderBy(col("id"))),

    // 2-hop neighborhood size over the symmetrized k-NN graph
    "q_khop" -> ((s, dir) =>
      Graphs.twoHopCounts(s.read.parquet(knnEdgesFixture(s, dir)), "src", "dst")
        .orderBy(col("id"))),

    // Per-vertex triangle counts in the k-NN similarity graph
    // (degree-oriented wedge counting — O(m^1.5) fan-out bound, hub-safe;
    // the oracle recounts by plain 3-way id-ordered join, same triangles)
    "q_triangles" -> ((s, dir) =>
      Graphs.triangleCounts(s.read.parquet(knnEdgesFixture(s, dir)), "src", "dst")
        .orderBy(col("id"))),

    // Deterministic synchronous label propagation (2 rounds, smallest-
    // label tie-break) over the symmetrized k-NN graph — the oracle
    // unrolls the identical vote/pick/carry rounds as CTEs
    "q_label_prop" -> ((s, dir) =>
      Graphs.labelPropagation(s.read.parquet(knnEdgesFixture(s, dir)),
          "src", "dst", iters = 2)
        .orderBy(col("id"))),

    // PageRank centrality over the (deterministic, hash-verified) exact
    // k-NN graph: 3 power iterations, each one vertex-keyed shuffle with
    // periodic lineage truncation — the oracle unrolls the same three
    // iterations as chained CTEs with a float-structurally-identical
    // update rule
    "q_pagerank" -> ((s, dir) =>
      Graphs.pageRank(s.read.parquet(knnEdgesFixture(s, dir)), "src", "dst",
          iters = 3)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy(col("id"))),

    // Link prediction over the k-NN graph: common-neighbor count +
    // resource-allocation index Σ 1/deg(z) for NON-adjacent pairs —
    // each shared neighbor contributes exact integer pico-units
    // (1e12 div deg), one float division at the end
    "q_link_predict" -> ((s, dir) =>
      Graphs.linkPrediction(s.read.parquet(knnEdgesFixture(s, dir)),
          "src", "dst", minCommon = 2)
        .orderBy(col("id_a"), col("id_b"))),

    // Degree distribution of the undirected k-NN graph — the first
    // sanity plot of any graph build; one vertex count + one bounded
    // (degree, n) reduce
    "q_degree_dist" -> ((s, dir) => {
      val e0 = s.read.parquet(knnEdgesFixture(s, dir))
        .select(col("src"), col("dst"))
      val sym = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst")).distinct()
      sym.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // Degree assortativity (Newman): Pearson corr of endpoint degrees
    // over the symmetric directed edge list — do high-degree vertices
    // attach to high-degree vertices? Exact integer degrees; only the
    // final corr rounds
    "q_assortativity" -> ((s, dir) => {
      val e0 = s.read.parquet(knnEdgesFixture(s, dir))
        .select(col("src"), col("dst"))
      val sym = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst")).distinct()
      val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      sym
        .join(deg.select(col("id").as("src"), col("d").as("_du")), Seq("src"))
        .join(deg.select(col("id").as("dst"), col("d").as("_dv")), Seq("dst"))
        .agg(count(lit(1)).as("n_directed_edges"),
          round(corr(col("_du"), col("_dv")), 4).as("assortativity"))
    }),

    // Per-edge embeddedness: common-neighbor count + neighborhood
    // Jaccard for every k-NN edge — the weak-tie pruning signal; same
    // wedge plan as q_link_predict, integer-exact to one division
    "q_edge_jaccard" -> ((s, dir) =>
      Graphs.edgeEmbeddedness(s.read.parquet(knnEdgesFixture(s, dir)),
          "src", "dst")
        .orderBy(col("lo"), col("hi"))),

    // Personalized PageRank from vec 0 over the k-NN graph: restart
    // vector 𝟙[v=0], 3 ordered-sum power iterations — the graph-
    // expanded "related to THIS document" retrieval primitive; oracle
    // unrolls the same float-structurally-identical CTEs as q_pagerank
    "q_ppr" -> ((s, dir) =>
      Graphs.personalizedPageRank(s.read.parquet(knnEdgesFixture(s, dir)),
          "src", "dst", sourceId = 0L, iters = 3)
        .select(col("id"), round(col("pr"), 6).as("ppr"))
        .where(col("ppr") > 0)
        .orderBy(col("id"))),

    // Kleinberg HITS over the k-NN graph: 2 unnormalized rounds keep
    // every score an exact integer (bit-reproducible, CTE-unrollable);
    // the one normalization divides by the exact integer max at the end
    "q_hits" -> ((s, dir) =>
      Graphs.hits(s.read.parquet(knnEdgesFixture(s, dir)), "src", "dst",
          iters = 2)
        .orderBy(col("id"))),
  )

  val oracles: Seq[(String, String)] = Seq(
    // same graph prelude as q_khop; min-hop via bounded recursive walk
    "q_bfs" ->
      """WITH RECURSIVE emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst),
        |walk(id, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS id, 0 AS d
        |  UNION ALL
        |  SELECT e.dst AS id, w.d + 1 AS d
        |  FROM walk w JOIN sym e ON e.src = w.id WHERE w.d < 4)
        |SELECT id, CAST(min(d) AS INT) AS dist FROM walk
        |GROUP BY 1 ORDER BY id""".stripMargin,

    // the edges CTE mirrors q_pagerank's reconstruction of the k-NN
    // fixture; then two unrolled vote/pick/carry label rounds
    "q_label_prop" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |l0 AS (SELECT id, id AS label FROM nodes),
        |v1 AS (SELECT s.dst AS id, l.label, count(*) AS c
        |       FROM sym s JOIN l0 l ON l.id = s.src GROUP BY 1, 2),
        |p1 AS (SELECT id, label FROM (
        |         SELECT id, label, row_number() OVER (
        |           PARTITION BY id ORDER BY c DESC, label) AS rn FROM v1) t
        |       WHERE rn = 1),
        |l1 AS (SELECT n.id, coalesce(p1.label, n.id) AS label
        |       FROM nodes n LEFT JOIN p1 USING (id)),
        |v2 AS (SELECT s.dst AS id, l.label, count(*) AS c
        |       FROM sym s JOIN l1 l ON l.id = s.src GROUP BY 1, 2),
        |p2 AS (SELECT id, label FROM (
        |         SELECT id, label, row_number() OVER (
        |           PARTITION BY id ORDER BY c DESC, label) AS rn FROM v2) t
        |       WHERE rn = 1),
        |l2 AS (SELECT n.id, coalesce(p2.label, n.id) AS label
        |       FROM nodes n LEFT JOIN p2 USING (id))
        |SELECT id, label FROM l2 ORDER BY id""".stripMargin,

    "q_khop" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst),
        |two AS (SELECT a.src, b.dst FROM sym a JOIN sym b ON a.dst = b.src
        |        WHERE a.src <> b.dst),
        |reach AS (SELECT src, dst FROM sym UNION SELECT src, dst FROM two)
        |SELECT src AS id, count(*) AS n_within_2 FROM reach
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // three unrolled power iterations; every arithmetic step mirrors the
    // Spark update rule's evaluation order so doubles agree bit-for-bit
    // before the final 6dp round. The ::DOUBLE casts on the constant
    // folds matter: DuckDB folds (1.0 - 0.85) in exact DECIMAL (0.15 →
    // double 1.4999…e-1-scaled base) while Scala folds in binary
    // (0.15000000000000002); at sf1's n=20000 the two dangling-node
    // bases straddle the 6dp half-way point 7.5e-6 and 931 rows flip a
    // final digit. With the casts the sf1 raw doubles are bit-identical
    // across all 20000 nodes (CORRECTNESS_sf1_sample_r12.json).
    "q_pagerank" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |nodes AS MATERIALIZED (
        |  SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |cnt AS (SELECT count(*) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |p0 AS (SELECT id, 1.0::DOUBLE / n AS pr FROM nodes CROSS JOIN cnt),
        |c1 AS (SELECT e.dst AS id,
        |       list_reduce(list(p.pr / deg.d ORDER BY p.pr / deg.d),
        |                   (a, b) -> a + b) AS cin FROM edges e
        |       JOIN deg ON deg.src = e.src JOIN p0 p ON p.id = e.src GROUP BY e.dst),
        |p1 AS (SELECT nodes.id, (1.0::DOUBLE - 0.85::DOUBLE) / n + coalesce(cin, 0.0) * 0.85 AS pr
        |       FROM nodes CROSS JOIN cnt LEFT JOIN c1 ON c1.id = nodes.id),
        |c2 AS (SELECT e.dst AS id,
        |       list_reduce(list(p.pr / deg.d ORDER BY p.pr / deg.d),
        |                   (a, b) -> a + b) AS cin FROM edges e
        |       JOIN deg ON deg.src = e.src JOIN p1 p ON p.id = e.src GROUP BY e.dst),
        |p2 AS (SELECT nodes.id, (1.0::DOUBLE - 0.85::DOUBLE) / n + coalesce(cin, 0.0) * 0.85 AS pr
        |       FROM nodes CROSS JOIN cnt LEFT JOIN c2 ON c2.id = nodes.id),
        |c3 AS (SELECT e.dst AS id,
        |       list_reduce(list(p.pr / deg.d ORDER BY p.pr / deg.d),
        |                   (a, b) -> a + b) AS cin FROM edges e
        |       JOIN deg ON deg.src = e.src JOIN p2 p ON p.id = e.src GROUP BY e.dst),
        |p3 AS (SELECT nodes.id, (1.0::DOUBLE - 0.85::DOUBLE) / n + coalesce(cin, 0.0) * 0.85 AS pr
        |       FROM nodes CROSS JOIN cnt LEFT JOIN c3 ON c3.id = nodes.id)
        |SELECT id, round(pr, 6) AS pr FROM p3 ORDER BY id""".stripMargin,

    // same k-NN edge rebuild as q_pagerank; triangles by id-ordered
    // 3-way join over the canonical undirected edge set
    "q_triangles" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |ce AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
        |  FROM edges WHERE src <> dst),
        |tri AS (
        |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM ce e1
        |  JOIN ce e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
        |  JOIN ce e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
        |SELECT id, count(*) AS n_tri
        |FROM (SELECT unnest([a, b, c]) AS id FROM tri) u
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same k-NN prelude; RA index summed as exact integer pico-units
    "q_link_predict" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst),
        |deg AS (SELECT src AS z, count(*) AS d FROM sym GROUP BY 1),
        |nbr AS (SELECT s.src AS z, s.dst AS n, deg.d
        |        FROM sym s JOIN deg ON deg.z = s.src),
        |wedge AS (
        |  SELECT a.n AS id_a, b.n AS id_b, a.d AS d
        |  FROM nbr a JOIN nbr b ON a.z = b.z AND a.n < b.n),
        |scored AS (
        |  SELECT id_a, id_b, count(*) AS n_common,
        |         sum(1000000000000 // d) AS ra
        |  FROM wedge GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT s.id_a, s.id_b, s.n_common,
        |       round(s.ra / 1e12, 6) AS ra_score
        |FROM scored s
        |LEFT JOIN (SELECT src AS id_a, dst AS id_b FROM sym WHERE src < dst) e
        |  ON e.id_a = s.id_a AND e.id_b = s.id_b
        |WHERE e.id_a IS NULL
        |ORDER BY 1, 2""".stripMargin,

    "q_degree_dist" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS (SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst)
        |SELECT degree, count(*) AS n_nodes FROM (
        |  SELECT src, count(*) AS degree FROM sym GROUP BY 1) d
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_assortativity" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS MATERIALIZED (SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst),
        |deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY 1)
        |SELECT count(*) AS n_directed_edges,
        |       round(corr(a.d, b.d), 4) AS assortativity
        |FROM sym JOIN deg a ON a.id = sym.src
        |         JOIN deg b ON b.id = sym.dst""".stripMargin,

    "q_edge_jaccard" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |sym AS MATERIALIZED (SELECT src, dst FROM (
        |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) u
        |  WHERE src <> dst),
        |und AS (SELECT src AS lo, dst AS hi FROM sym WHERE src < dst),
        |deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY 1),
        |cn AS (SELECT a.dst AS lo, b.dst AS hi, count(*) AS cn
        |       FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
        |       GROUP BY 1, 2)
        |SELECT u.lo, u.hi, coalesce(cn.cn, 0) AS cn,
        |  round(coalesce(cn.cn, 0) /
        |    greatest(da.d + db.d - 2 - coalesce(cn.cn, 0), 1), 6) AS jaccard
        |FROM und u
        |LEFT JOIN cn ON cn.lo = u.lo AND cn.hi = u.hi
        |JOIN deg da ON da.id = u.lo
        |JOIN deg db ON db.id = u.hi
        |ORDER BY 1, 2""".stripMargin,

    // q_pagerank's unrolled CTEs with the restart base CASE WHEN id=0
    "q_ppr" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |nodes AS MATERIALIZED (
        |  SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |p0 AS (SELECT id, CASE WHEN id = 0 THEN 1.0 ELSE 0.0 END AS pr
        |       FROM nodes),
        |c1 AS (SELECT e.dst AS id,
        |       list_reduce(list(p.pr / deg.d ORDER BY p.pr / deg.d),
        |                   (a, b) -> a + b) AS cin FROM edges e
        |       JOIN deg ON deg.src = e.src JOIN p0 p ON p.id = e.src
        |       GROUP BY e.dst),
        |p1 AS (SELECT nodes.id,
        |         CASE WHEN nodes.id = 0 THEN 1.0::DOUBLE - 0.85::DOUBLE ELSE 0.0 END
        |           + coalesce(cin, 0.0) * 0.85 AS pr
        |       FROM nodes LEFT JOIN c1 ON c1.id = nodes.id),
        |c2 AS (SELECT e.dst AS id,
        |       list_reduce(list(p.pr / deg.d ORDER BY p.pr / deg.d),
        |                   (a, b) -> a + b) AS cin FROM edges e
        |       JOIN deg ON deg.src = e.src JOIN p1 p ON p.id = e.src
        |       GROUP BY e.dst),
        |p2 AS (SELECT nodes.id,
        |         CASE WHEN nodes.id = 0 THEN 1.0::DOUBLE - 0.85::DOUBLE ELSE 0.0 END
        |           + coalesce(cin, 0.0) * 0.85 AS pr
        |       FROM nodes LEFT JOIN c2 ON c2.id = nodes.id),
        |c3 AS (SELECT e.dst AS id,
        |       list_reduce(list(p.pr / deg.d ORDER BY p.pr / deg.d),
        |                   (a, b) -> a + b) AS cin FROM edges e
        |       JOIN deg ON deg.src = e.src JOIN p2 p ON p.id = e.src
        |       GROUP BY e.dst),
        |p3 AS (SELECT nodes.id,
        |         CASE WHEN nodes.id = 0 THEN 1.0::DOUBLE - 0.85::DOUBLE ELSE 0.0 END
        |           + coalesce(cin, 0.0) * 0.85 AS pr
        |       FROM nodes LEFT JOIN c3 ON c3.id = nodes.id)
        |SELECT id, round(pr, 6) AS ppr FROM p3
        |WHERE round(pr, 6) > 0 ORDER BY id""".stripMargin,

    // same k-NN prelude; two unrolled integer HITS rounds (a then h)
    "q_hits" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT a.vid AS src, b.vid AS dst,
        |      row_number() OVER (PARTITION BY a.vid
        |        ORDER BY round(list_cosine_similarity(a.v, b.v), 6) DESC,
        |                 b.vid) AS rk
        |    FROM emb a JOIN emb b ON a.vid <> b.vid) t
        |  WHERE rk <= 3),
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges
        |                   WHERE src <> dst),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION SELECT dst FROM e) u),
        |h0 AS (SELECT id, CAST(1 AS HUGEINT) AS h FROM nodes),
        |a1 AS (SELECT n.id, coalesce(sum(h0.h), 0) AS a FROM nodes n
        |       LEFT JOIN e ON e.dst = n.id LEFT JOIN h0 ON h0.id = e.src
        |       GROUP BY 1),
        |h1 AS (SELECT n.id, coalesce(sum(a1.a), 0) AS h FROM nodes n
        |       LEFT JOIN e ON e.src = n.id LEFT JOIN a1 ON a1.id = e.dst
        |       GROUP BY 1),
        |a2 AS (SELECT n.id, coalesce(sum(h1.h), 0) AS a FROM nodes n
        |       LEFT JOIN e ON e.dst = n.id LEFT JOIN h1 ON h1.id = e.src
        |       GROUP BY 1),
        |h2 AS (SELECT n.id, coalesce(sum(a2.a), 0) AS h FROM nodes n
        |       LEFT JOIN e ON e.src = n.id LEFT JOIN a2 ON a2.id = e.dst
        |       GROUP BY 1),
        |m AS (SELECT (SELECT max(a) FROM a2) AS ma,
        |             (SELECT max(h) FROM h2) AS mh)
        |SELECT n.id, CAST(a2.a AS BIGINT) AS auth_raw,
        |       CAST(h2.h AS BIGINT) AS hub_raw,
        |       round(CAST(a2.a AS DOUBLE) /
        |         greatest(CAST(m.ma AS DOUBLE), 1.0), 6) AS auth_norm,
        |       round(CAST(h2.h AS DOUBLE) /
        |         greatest(CAST(m.mh AS DOUBLE), 1.0), 6) AS hub_norm
        |FROM nodes n JOIN a2 ON a2.id = n.id JOIN h2 ON h2.id = n.id
        |CROSS JOIN m
        |ORDER BY n.id""".stripMargin,
  )
}
