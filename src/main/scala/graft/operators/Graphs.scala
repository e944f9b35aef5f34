package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the power-iteration
  * complement to [[Dedup.clusters]]'s label propagation. Used on the
  * similarity graphs this engine builds (k-NN, near-dup): PageRank
  * centrality picks representative documents per duplicate neighborhood
  * and surfaces hub documents in retrieval graphs.
  */
object Graphs {

  /** Personalized PageRank: the random walk RESTARTS at `sourceId`
    * instead of teleporting uniformly — pr₀ = 𝟙[v=s],
    * pr_{t+1}(v) = (1−d)·𝟙[v=s] + d·Σ_{u→v} pr_t(u)/outdeg(u). The
    * similarity-graph retrieval primitive ("documents related to THIS
    * one, weighted by walk probability") behind graph-expanded recall.
    * It runs [[pageRank]]'s power-iteration body with its own seed and
    * base term, so the same unrolled float-structurally-identical CTEs
    * check it.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           sourceId: Long, iters: Int = 3,
                           damping: Double = 0.85): DataFrame =
    powerIteration(edges, srcCol, dstCol, iters, damping, reliable = false,
        "personalizedPageRank") { _ =>
      val isSource = col("id") === sourceId
      (when(isSource, lit(1.0)).otherwise(lit(0.0)),
        when(isSource, lit(1.0) - lit(damping)).otherwise(lit(0.0)))
    }

  /** Undirected simple graph induced by `edges`: both orientations of
    * every edge, self-loops dropped, duplicates removed, cut once (every
    * caller reads it from several branches).
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    Lineage.cut(e0
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct(), "Graphs.undirected")
  }

  /** Loud-failure hub guard for the wedge-join operators: their fan-out
    * is Σ deg(z)², so a hub with 10⁶ neighbors turns one vertex into
    * 10¹² wedges. A 100× input must fail NAMING THE KNOB (the
    * runtime-cap discipline of Bpe.trainMerges / Pq.train), not melt a
    * cluster. Cost: one aggregate over the already-reduced degree
    * dimension. Pass maxDegreeCheck ≤ 0 to skip (callers that already
    * know the graph is degree-capped, e.g. a k-NN build).
    */
  private def guardMaxDegree(deg: DataFrame, degCol: String,
                             maxDegreeCheck: Long, op: String): Unit =
    if (maxDegreeCheck > 0) {
      val row = deg.agg(max(col(degCol))).head()
      val mx = if (row.isNullAt(0)) 0L else row.getLong(0)
      require(mx <= maxDegreeCheck,
        s"$op wedge fan-out is sum(deg^2): max degree $mx exceeds " +
          s"maxDegreeCheck=$maxDegreeCheck — run on a degree-bounded " +
          "graph (e.g. a k-NN build) or raise the knob")
    }

  /** Per-vertex triangle counts over the UNDIRECTED graph induced by
    * `edges` (direction and duplicates ignored; self-loops dropped) —
    * the standard local-clustering signal for near-dup neighborhoods
    * (a dense triangle count says a doc's neighbors agree with each
    * other, not just with it).
    *
    * Degree-oriented counting (the classic MR/GraphX shape): orient
    * every edge from the (degree, id)-smaller endpoint to the larger;
    * the orientation is acyclic and each triangle {x,y,z} materializes
    * exactly once — as the wedge at its orientation-minimum vertex
    * closed by the oriented third edge. Max out-degree under this
    * orientation is O(√m) on ANY graph, so the wedge fan-out is
    * Σ outdeg² ≤ O(m^1.5) — bounded by graph size, not by hub degree
    * (a naive shared-neighbor join fans out Σ deg², quadratic in the
    * hub). Exchanges carry (id, id) pairs only.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val ce = Lineage.cut(edges.select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .where(col("lo") =!= col("hi") && col("lo").isNotNull && col("hi").isNotNull)
      .distinct(), "Graphs.triangleCounts.ce")
    val deg = ce.select(col("lo").as("id")).unionAll(ce.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("_d"))
    val withDeg = ce
      .join(deg.select(col("id").as("lo"), col("_d").as("_dl")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("_d").as("_dh")), Seq("hi"))
    val oriented = Lineage.cut(withDeg.select(
        when(struct(col("_dl"), col("lo")) < struct(col("_dh"), col("hi")),
          struct(col("lo").as("u"), col("hi").as("v")))
          .otherwise(struct(col("hi").as("u"), col("lo").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")),
      "Graphs.triangleCounts.oriented")
    val wedges = oriented.select(col("u"), col("v").as("a"))
      .join(oriented.select(col("u"), col("v").as("b")), Seq("u"))
      .where(col("a") =!= col("b"))
    val tri = wedges.join(oriented.select(col("u").as("a"), col("v").as("b")),
      Seq("a", "b"))
    tri.select(explode(array(col("u"), col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }

  /** Synchronous label-propagation community detection over the
    * undirected graph induced by `edges`: every vertex starts as its
    * own label; each round it adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — a fully
    * deterministic variant (classic async LPA is run-order dependent
    * and unreproducible, useless for a hash-verified engine).
    *
    * Scale shape per round: one join of the symmetrized edge list to
    * the current labels on the source key, a (vertex, label) count
    * aggregate, and a per-vertex top-1 pick via the WindowGroupLimit-
    * prunable `row_number` — all shuffles keyed by vertex id, carrying
    * (id, label, count) triples only. The rounds run on
    * [[Fixpoint.iterate]], which cuts the labels every second round.
    * Fixed `iters` keeps it oracle-checkable (unrolled CTEs);
    * convergence looping is a caller-side concern.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 0, s"iters $iters")
    val sym = undirected(edges, srcCol, dstCol)
    val nodes = Lineage.cut(sym.select(col("src").as("id")).distinct(),
      "Graphs.labelPropagation.nodes")
    Fixpoint.iterate(nodes.select(col("id"), col("id").as("label")), iters,
        "Graphs.labelPropagation.labels") { (labels, _) =>
      val votes = sym
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("_c").desc, col("label").asc)
      val top = votes.select(col("id"), col("label"),
          row_number().over(w).as("_rn"))
        .where(col("_rn") === 1)
        .select(col("id"), col("label").as("_new"))
      // isolated vertices (none in a symmetrized graph, kept for safety)
      nodes.join(top, Seq("id"), "left")
        .select(col("id"), coalesce(col("_new"), col("id")).as("label"))
    }
  }

  /** Distinct vertices reachable within 2 hops (excluding self) on the
    * undirected graph — neighborhood size, the friend-of-friend reach
    * metric. One mid-keyed self-join of the symmetrized edge list
    * (fan-out Σ deg(mid)² — bounded like the wedge step of
    * [[triangleCounts]] for the degree-bounded similarity graphs this
    * engine builds), then a distinct + count keyed by source.
    */
  def twoHopCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val sym = undirected(edges, srcCol, dstCol)
    val two = sym.select(col("src"), col("dst").as("mid"))
      .join(sym.select(col("src").as("mid"), col("dst").as("d2")), Seq("mid"))
      .select(col("src"), col("d2").as("dst"))
      .where(col("src") =!= col("dst"))
    sym.unionAll(two).distinct()
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("n_within_2"))
  }

  /** Link prediction over the undirected graph induced by `edges`: for
    * every NON-adjacent vertex pair sharing at least `minCommon`
    * neighbors, the common-neighbor count and the resource-allocation
    * index Σ_z 1/deg(z) (Zhou–Lü–Zhang 2009 — the degree-punished
    * cousin of Adamic–Adar that needs no logarithm, so the score is
    * computable in EXACT integer arithmetic: each shared neighbor z
    * contributes `1e12 div deg(z)` pico-units, summed as bigint and
    * divided back out once at the end — no float-sum order dependence
    * anywhere).
    *
    * Scale shape: wedges materialize around the shared neighbor z, so
    * fan-out is Σ deg(z)² — the [[twoHopCounts]] bound, fine for the
    * degree-bounded similarity graphs this engine builds (k-NN caps
    * deg at k; general hubs would need the [[triangleCounts]]
    * orientation trick). Then ONE pair-keyed count/sum aggregate and a
    * left-anti join against the edge set keep predicted-only pairs.
    * Every shuffle carries (id, id, long) triples.
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     minCommon: Long = 2,
                     maxDegreeCheck: Long = 100000L): DataFrame = {
    require(minCommon >= 1, s"minCommon $minCommon")
    val sym = undirected(edges, srcCol, dstCol)
    val deg = sym.groupBy(col("src").as("z")).agg(count(lit(1)).as("_d"))
    guardMaxDegree(deg, "_d", maxDegreeCheck, "linkPrediction")
    val nbr = sym.select(col("dst").as("z"), col("src").as("n"))
      .join(deg, Seq("z"))
    // wedge a—z—b materialized once per unordered pair (id_a < id_b);
    // the center's weight rides along as exact pico-units
    val wedges = nbr
      .select(col("z"), col("n").as("id_a"),
        expr("cast(1000000000000 as bigint) div _d").as("_w"))
      .join(nbr.select(col("z"), col("n").as("id_b")), Seq("z"))
      .where(col("id_a") < col("id_b"))
    val scored = wedges.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("_w")).as("_ra"))
      .where(col("n_common") >= minCommon)
    val und = sym.where(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    scored.join(und, Seq("id_a", "id_b"), "left_anti")
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("_ra") / lit(1.0e12), 6).as("ra_score"))
  }

  /** Per-edge embeddedness: for every undirected edge (lo, hi), the
    * number of COMMON neighbors and the neighborhood Jaccard
    * cn / (deg(lo) + deg(hi) − 2 − cn) — the "how much do these two
    * agree with each other's neighborhoods" strength signal used to
    * prune weak ties from similarity graphs (a near-dup edge with zero
    * embeddedness is usually an LSH accident). All counts exact
    * integers; the single Jaccard division is rounded.
    *
    * Scale shape: the same center-keyed wedge join as
    * [[linkPrediction]] (fan-out Σ deg², fine for degree-bounded
    * graphs), one pair-keyed count, then an equi-join back to the edge
    * set (left — zero-common edges keep cn = 0) and two broadcastable
    * degree lookups.
    */
  def edgeEmbeddedness(edges: DataFrame, srcCol: String, dstCol: String,
                       maxDegreeCheck: Long = 100000L): DataFrame = {
    val sym = undirected(edges, srcCol, dstCol)
    val und = sym.where(col("src") < col("dst"))
      .select(col("src").as("lo"), col("dst").as("hi"))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("_d"))
    guardMaxDegree(deg, "_d", maxDegreeCheck, "edgeEmbeddedness")
    val nbr = sym.select(col("src").as("z"), col("dst").as("n"))
    val cn = nbr.select(col("z"), col("n").as("lo"))
      .join(nbr.select(col("z"), col("n").as("hi")), Seq("z"))
      .where(col("lo") < col("hi"))
      .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("cn"))
    und.join(cn, Seq("lo", "hi"), "left")
      .na.fill(0L, Seq("cn"))
      .join(deg.select(col("id").as("lo"), col("_d").as("_dl")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("_d").as("_dh")), Seq("hi"))
      .select(col("lo"), col("hi"), col("cn"),
        round(col("cn") /
          greatest(col("_dl") + col("_dh") - lit(2) - col("cn"), lit(1)),
          6).as("jaccard"))
  }

  /** PageRank by power iteration (simplified model: dangling mass is not
    * redistributed — nodes without out-edges keep contributing nothing,
    * the same convention the oracle SQL uses).
    *
    * Scale shape: each iteration is ONE shuffle — contributions =
    * edges ⋈ ranks on the source key (both sides hash-partitioned by
    * vertex id; AQE coalesces), then a sum aggregate keyed by
    * destination. The rounds run on [[Fixpoint.iterate]], which cuts the
    * ranks every second round (plan depth stays ≤ 2 rounds; a cut EVERY
    * round would pay its fixed cost every round). With `reliable` every
    * cut here is a reliable `checkpoint()`. Node count is collected once
    * (a single long — the only driver action).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damping: Double = 0.85,
               reliable: Boolean = false): DataFrame =
    powerIteration(edges, srcCol, dstCol, iters, damping, reliable, "pageRank") { nodes =>
      val n = nodes.count() // computes nodes; the first round computes withDeg
      (lit(1.0 / n), lit((1.0 - damping) / n))
    }

  /** pr_{t+1} = base + d·Σ_{u→v} pr_t(u)/outdeg(u) from pr₀ = seed, with
    * `seedAndBase` mapping the node table to the two per-vertex columns.
    */
  private def powerIteration(edges: DataFrame, srcCol: String, dstCol: String,
                             iters: Int, damping: Double, reliable: Boolean,
                             op: String)(
      seedAndBase: DataFrame => (Column, Column)): DataFrame = {
    require(iters >= 0, s"iters $iters")
    def cut(df: DataFrame, name: String): DataFrame =
      Lineage.cut(df, s"Graphs.$op.$name", reliable)
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), "edges")
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct(), "nodes")
    val (seed, base) = seedAndBase(nodes)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("_d"))
    val withDeg = cut(e.join(deg, Seq("src")), "withDeg")
    Fixpoint.iterate(nodes.select(col("id"), seed.as("pr")), iters,
        s"Graphs.$op.pr", reliable) { (pr, _) =>
      // zero-contribution seed rows fold the "nodes with no in-edges"
      // left join INTO the aggregate's shuffle — one exchange, not two
      val raw = withDeg
        .join(pr, col("src") === col("id"))
        .select(col("dst").as("id"), (col("pr") / col("_d")).as("c"))
        .unionAll(nodes.select(col("id"), lit(0.0).as("c")))
      // ordered sum: fold contributions in ascending value order, making
      // every iteration bit-reproducible across partitionings, retries
      // and engines (plain float sum() is summation-order-dependent in
      // the last bit, which compounds over iterations and can flip a
      // rounded digit). Computed as sum() over a whole-partition window
      // ordered by the value: Spark evaluates an unbounded frame as a
      // 0.0-seeded sequential left fold in partition sort order, which
      // is bit-identical to folding array_sort(collect_list(c)) — but
      // WindowExec buffers its partition rows in a SPILLABLE array
      // (ExternalAppendOnlyUnsafeRowArray → UnsafeExternalSorter), so a
      // hub vertex with 10^7 in-edges streams through disk instead of
      // materializing an O(in-degree) array inside one aggregation
      // buffer. Hub-safety is measured in PipelineBench's star-graph
      // run; ties in c are interchangeable (equal doubles sum equally).
      val w = Window.partitionBy(col("id")).orderBy(col("c"))
      val wAll = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val contribs = raw.select(col("id"), sum(col("c")).over(wAll).as("_in"),
          row_number().over(w).as("_rn"))
        .where(col("_rn") === 1)
        .select(col("id"), col("_in"))
      contribs.select(col("id"), (base + col("_in") * lit(damping)).as("pr"))
    }
  }

  /** HITS hubs/authorities (Kleinberg) in EXACT integer arithmetic:
    * the classic iteration with unit initialization and NO per-round
    * normalization — every score after k rounds is then an integer
    * (a_1 = in-degree, h_1 = Σ_out a_1, …), so the iteration is
    * bit-reproducible in any engine and oracle-checkable by unrolled
    * CTEs; the single normalization (by the exact integer max) happens
    * once at the end. The require() bounds `iters` ≤ 4 because the
    * unnormalized integers grow like Δ^(2·iters) (Δ = max degree) —
    * within long range for the degree-bounded k-NN graphs this engine
    * builds (Δ ≤ 2k); sums run in decimal(38,0) regardless.
    *
    * Scale shape: each half-round is ONE vertex-keyed equi-join of the
    * edge list to the current scores plus a sum aggregate — the
    * [[pageRank]] shuffle pattern with decimal(38,0) sums. The
    * half-rounds run on [[Fixpoint.iterate]], so lineage is cut once per
    * round, at its hub table.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4,
      s"iters $iters out of [1,4]: unnormalized HITS integers grow like " +
        "maxDegree^(2·iters); normalize-and-round variants lose " +
        "engine-exactness")
    val e = Lineage.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst")).distinct(), "Graphs.hits.edges")
    val nodes = Lineage.cut(e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct(), "Graphs.hits.nodes")
    // Overflow guard: scores grow like Δ^(2·iters) (Δ = max degree), so
    // a graph with Δ above ⌊2^(63/(2·iters))⌋ (≈234 at iters=4) would
    // silently NULL the long casts below (and, far enough, overflow even
    // the decimal(38,0) accumulators mid-iteration, which max() would
    // then skip) — fail loudly up front instead. The degree dimension is
    // one count-aggregate over (id); in+out combined upper-bounds both
    // directed degrees.
    val degBound = math.pow(Long.MaxValue.toDouble, 1.0 / (2.0 * iters)).toLong
    val degRow = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("_d"))
      .agg(max(col("_d"))).head()
    val maxDeg = if (degRow.isNullAt(0)) 0L else degRow.getLong(0)
    require(maxDeg <= degBound,
      s"hits: max degree $maxDeg exceeds $degBound = " +
        s"Long.MaxValue^(1/(2*iters=$iters)) — unnormalized integer HITS " +
        "scores would overflow the exact-arithmetic contract; lower " +
        "iters or run on a degree-bounded graph (e.g. a k-NN build)")
    // odd half-rounds: a(v) = Σ_{u→v} h(u); even: h(u) = Σ_{u→v} a(v).
    // Zero seeds fold the vertices without such an edge into the
    // aggregate's shuffle (the pageRank discipline)
    def half(scores: DataFrame, r: Int): DataFrame = {
      val (from, to, in, out) =
        if (r % 2 == 1) ("src", "dst", "h", "a") else ("dst", "src", "a", "h")
      e.join(scores.select(col("id").as(from), col(in)), Seq(from))
        .select(col(to).as("id"), col(in).as("_c"))
        .unionAll(nodes.select(col("id"),
          lit(0L).cast("decimal(38,0)").as("_c")))
        .groupBy(col("id")).agg(sum(col("_c")).as(out))
    }
    // the final tables are each read twice (the join and the max below)
    val auth = Lineage.cut(Fixpoint.iterate(
        nodes.select(col("id"), lit(1L).cast("decimal(38,0)").as("h")),
        2 * iters - 1, "Graphs.hits.hub")(half), "Graphs.hits.auth")
    val hub = Lineage.cut(half(auth, 2 * iters), "Graphs.hits.hub")
    val maxes = auth.agg(max(col("a")).as("_ma"))
      .crossJoin(hub.agg(max(col("h")).as("_mh")))
    nodes.join(auth, Seq("id")).join(hub, Seq("id"))
      .crossJoin(broadcast(maxes))
      .select(col("id"), col("a").cast("long").as("auth_raw"),
        col("h").cast("long").as("hub_raw"),
        round(col("a").cast("double") /
          greatest(col("_ma").cast("double"), lit(1.0)), 6).as("auth_norm"),
        round(col("h").cast("double") /
          greatest(col("_mh").cast("double"), lit(1.0)), 6).as("hub_norm"))
  }

  /** Single-source BFS hop distances over the UNDIRECTED graph induced
    * by `edges`, bounded to `maxHops` rounds — the reachability /
    * influence-radius primitive. Returns (id, dist) for every vertex
    * reached within `maxHops` hops of `sourceId` (the source itself at
    * dist 0). Exact integers end to end — engine-reproducible.
    *
    * Scale shape: classic frontier iteration. Each round joins the
    * CURRENT FRONTIER ONLY (the rows first reached last round) against
    * the edge table on the vertex key — one hash join + one distinct per
    * round, both shuffling (id, int) pairs; the visited set never
    * re-expands, so the join work is O(edges touched), not
    * O(frontier × rounds). The rounds run on [[Fixpoint.converge]]: each
    * round's (id, dist) table is a lazy cut, and one `count(*)` action
    * per two-hop stride stops the loop once the frontier is empty.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sourceId: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64, s"maxHops $maxHops out of [0,64]")
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = undirected(edges, srcCol, dstCol)
    // round h adds the unseen neighbors of the rows at dist h-1; the row
    // count repeats exactly when that frontier was empty
    Fixpoint.converge(Seq((sourceId, 0)).toDF("id", "dist"), maxHops,
        "Graphs.bfsDistances.dist")(_.agg(count(lit(1)))) { (dist, h) =>
      val next = dist.where(col("dist") === h - 1)
        .select(col("id").as("src"))
        .join(sym, Seq("src"))
        .select(col("dst").as("id"))
        .distinct()
        // drop vertices already reached at a smaller distance
        .join(dist.select(col("id"), lit(true).as("_seen")), Seq("id"), "left")
        .where(col("_seen").isNull)
        .select(col("id"), lit(h).as("dist"))
      dist.unionAll(next)
    }._1
  }
}
