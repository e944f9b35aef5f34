package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Baskets, Bpe, Cdc, Classifier, CorpusStats, CountMin, Curation, Dedup, Funnel, Geo, Graphs, HeavyHitters, Intervals, Ivf, Lineage, Packing, Par, Pq, PrefixMatch, Profiling, Retrieval, Sampling, Similarity, Skew, Stats, TemplateFilters, Timeseries}
import graft.functions.{DedupExpr, TextAnalytics}
import graft.EntryContext._

/** Corpus curation: deterministic sampling and splits, token budgets, source mixtures, decontamination, quality classification and release audits.
  *
  * Declarations (query lambda + DuckDB oracle SQL) are
  * merged into [[SparkEntry]]'s registry; see SURVEY.md
  * §2/§8 and docs/QUERIES.md for the full index.
  */
private[graft] object CurationQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // Deterministic corpus sampling (training-pipeline downsampling).
    // Both use the md5-hex decision variant for engine-exact oracle
    // parity; Sampling.hashSample (xxhash64, map-only) is the production
    // path and is property-tested instead.
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedExact(Tables.documents(s, dir), col("lang"), col("doc_id"), 10)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    "q_hash_sample" -> ((s, dir) =>
      Sampling.md5Sample(Tables.documents(s, dir), col("doc_id"), "2")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Sequence packing (GPT-style concat-and-chunk): global token start
    // offsets from a two-level prefix sum (per-block totals broadcast +
    // within-block windows — never a single-partition window over the
    // corpus), sequences = floor(start/budget); per-sequence occupancy
    "q_pack_sequences" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalytics.tokens(col("text"))).cast("long").as("toks"))
      Packing.packSequences(docs, "doc_id", "toks", budget = 512L, blockSize = 64L)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy(col("seq_id"))
    }),

    // Train/val/test leakage audit: near-dup pairs (the shared 0.8-
    // Jaccard pair source) whose endpoints land in DIFFERENT md5-hash
    // splits — the contamination a random split inflicts on held-out
    // metrics. Bounded (split, split) output; pair source checkpointed.
    "q_split_leakage" -> ((s, dir) => {
      val u16 = conv(substring(md5(col("doc_id").cast("string").cast("binary")),
        1, 4), 16, 10).cast("long")
      val splits = Tables.documents(s, dir).select(col("doc_id"),
        when(u16 < 52429L, "train").when(u16 < 58982L, "val")
          .otherwise("test").as("split"))
      ngramPairs(s, dir)
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")),
          Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")),
          Seq("id_b"))
        .where(col("split_a") =!= col("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_leaked_pairs"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // Deterministic weighted data mixture: per-source md5-threshold keep
    // rates (upsample curated, downsample crawl, drop the rest) — pure
    // function of (id, source), map-only, engine-exact
    "q_source_mixture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.where(Packing.sourceMixture(docs, col("doc_id"), col("source"),
          Map("src0" -> "ff", "src1" -> "c0", "src2" -> "80", "src3" -> "40")))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Temperature-scaled mixture allocation (w ∝ share^0.5): the
    // sampling-rate table a multi-source pretraining mix is built from.
    "q_mixture_weights" -> ((s, dir) =>
      Packing.mixtureWeights(Tables.documents(s, dir), col("source"),
          TextAnalytics.tokenCount(col("text")).cast("long"), alpha = 0.5)
        .orderBy(col("source"))),

    // Duplicate-inflation report over the shared n-gram pair source:
    // cluster-size histogram + tokens a keep-min-id dedup would drop —
    // the decision table read before paying for the full dedup pass.
    // Oracled end-to-end (recursive-CTE components + the same aggregates).
    "q_dup_inflation" -> ((s, dir) =>
      CorpusStats.dupInflation(Tables.documents(s, dir), "doc_id", "text",
          ngramPairs(s, dir))
        .orderBy(col("cluster_size"))),

    // Per-source document cap by quality rank — the per-domain cap of
    // web-scale curation (no domain dominates the mixture).
    "q_source_cap" -> ((s, dir) =>
      CorpusStats.sourceCap(Tables.documents(s, dir), "doc_id", "text",
          "source", cap = 10, stopwords = Seq("the", "a", "of", "and"))
        .select(col("id").as("doc_id"), col("source"), col("quality"),
          col("rk"))
        .orderBy(col("source"), col("rk"))),

    // Pareto frontier of (quality max, token cost min) — the efficient
    // frontier of budgeted curation. Frontier test via two bounded
    // aggregates over the 4-dp score grid, never a self-join.
    // quality-kernel scoring is the CPU — spread the one-split scan so
    // it runs per-partition (identity at real scale, see Par)
    "q_pareto_docs" -> ((s, dir) =>
      CorpusStats.paretoFront(
          Par.spreadSmallScan(Tables.documents(s, dir), col("doc_id"))
            .select(col("doc_id"),
              TextAnalytics.qualityScore(col("text"),
                Seq("the", "a", "of", "and")).as("q"),
              size(split(col("text"), " ")).cast("long").as("nt")),
          col("doc_id"), col("q"), col("nt"))
        .select(col("id").as("doc_id"), col("score").as("quality"),
          col("cost").as("n_tokens"))
        .orderBy(col("quality").desc, col("n_tokens"), col("doc_id"))),

    // fastText-shaped hashed-BoW logistic regression: driver-trained on
    // the capped id-ordered sample (lang='en' as the label), scored
    // map-only via codegen'd xxhash64 + higher-order aggregate — no
    // UDF, no shuffle. Training isn't SQL → rows-only, count + content
    // hash pinned in EntrySpec; equivalences in ClassifierSpec.
    "q_quality_classifier" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = Classifier.trainLogReg(docs, "doc_id", "text",
        col("lang") === "en")
      docs.select(col("doc_id"),
          Classifier.score(col("text"), model).as("p_en"),
          (Classifier.score(col("text"), model) >= 0.5).as("pred_en"),
          (col("lang") === "en").as("is_en"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: every 50th doc plays the held-out eval
    // set; remaining docs are flagged by distinct-shingle overlap with
    // the (broadcast) benchmark shingle universe. Spark counts shared
    // 64-bit shingle hashes, DuckDB shared shingle strings — identical
    // barring a ~2^-64 collision (same argument as q_ngram_jaccard).
    "q_decontaminate" -> ((s, dir) => {
      val all = docShingles(s, dir)
      Curation.decontaminatePre(
          all.where(col("id") % 50 =!= 0).select(col("id"), col("sh")),
          all.where(col("id") % 50 === 0)
            .select(explode(col("sh")).as("h")).distinct())
        .select(col("id").as("doc_id"), col("n_sh"), col("n_shared"),
          round(col("overlap_frac"), 4).as("overlap_frac"), col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // The same decontamination audit expressed ENTIRELY in spark.sql over
    // the registered shingle_hashes kernel (SQL-surface parity; same
    // DuckDB oracle as q_decontaminate). The composed operator is the
    // scale path — it probes the ONE materialized shingle table; this
    // plan recomputes shingles per branch, which is the cost of staying
    // pure-SQL without a view.
    "q_decontaminate_sql" -> ((s, dir) => {
      graft.GraftExtensions.register(s)
      s.sql(
        raw"""WITH ex AS (
           |  SELECT doc_id,
           |    shingle_hashes(filter(split(text, '\\s+'),
           |      t -> length(t) > 0), 3) AS sh
           |  FROM parquet.`$dir/documents.parquet`),
           |bench AS (SELECT DISTINCT explode(sh) AS h FROM ex
           |          WHERE doc_id % 50 = 0),
           |docs AS (SELECT doc_id, CAST(size(sh) AS BIGINT) AS n_sh
           |         FROM ex WHERE doc_id % 50 <> 0),
           |hits AS (SELECT e.doc_id, count(*) AS n_shared
           |         FROM (SELECT doc_id, explode(sh) AS h FROM ex
           |               WHERE doc_id % 50 <> 0) e
           |         JOIN bench b ON e.h = b.h GROUP BY e.doc_id)
           |SELECT d.doc_id, d.n_sh,
           |  coalesce(h.n_shared, CAST(0 AS BIGINT)) AS n_shared,
           |  round(CASE WHEN d.n_sh = 0 THEN 0.0
           |        ELSE CAST(coalesce(h.n_shared, CAST(0 AS BIGINT)) AS DOUBLE)
           |             / d.n_sh END, 4) AS overlap_frac,
           |  coalesce(h.n_shared, CAST(0 AS BIGINT)) > 0 AS contaminated
           |FROM docs d LEFT JOIN hits h ON d.doc_id = h.doc_id
           |ORDER BY d.doc_id""".stripMargin)
    }),

    // Bloom-prefiltered decontamination — identical results to
    // q_decontaminate (same oracle): the benchmark shingle set rides as
    // a compact Bloom filter probed map-side, candidates exact-verified
    // with a shuffle-hash join (never a benchmark-side broadcast) — the
    // variant for benchmark sets too large to broadcast raw
    "q_decontaminate_bloom" -> ((s, dir) => {
      val all = docShingles(s, dir)
      Curation.decontaminateBloomPre(
          all.where(col("id") % 50 =!= 0).select(col("id"), col("sh")),
          Lineage.cut(all.where(col("id") % 50 === 0) // bloom build + exact-verify join
            .select(explode(col("sh")).as("h")).distinct(),
            "q_decontaminate_bloom.bench"))
        .select(col("id").as("doc_id"), col("n_sh"), col("n_shared"),
          round(col("overlap_frac"), 4).as("overlap_frac"), col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // Flagship curation composition: quality + repetition + contamination
    // + exact-dup keeper fused into one keep/drop decision per document
    // (the per-doc signals are kernel projections; contamination is the
    // broadcast-benchmark join; exact dedup groups by the 64-bit content
    // hash so no exchange carries text).
    "q_curation_pipeline" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      Curation.pipeline(
          all.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
          all.where(col("doc_id") % 50 === 0), "text",
          stopwords = Seq("the", "a", "of", "and"))
        .select(col("id").as("doc_id"), col("quality"), col("dup_token_frac"),
          col("contaminated"), col("is_exact_keeper"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Budget-constrained curation: per source, highest-quality docs
    // admitted until the cumulative token count passes the budget —
    // the greedy knapsack of mixture building. One source-keyed window.
    "q_token_budget" -> ((s, dir) =>
      Curation.tokenBudgetSelect(Tables.documents(s, dir), "doc_id", "text",
          "source", budget = 800L, stopwords = Seq("the", "a", "of", "and"))
        .orderBy(col("source"), col("doc_id"))),

    // Weighted sampling without replacement (Efraimidis–Spirakis):
    // md5-uniform u, rank by u^(1/weight) per brand — both engines rank
    // the ROUNDED score so a pow() ulp cannot move the cut
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Tables.part(s, dir), col("p_brand"),
          col("p_partkey"), col("p_retailprice"), k = 3)
        .select(col("p_brand"), col("p_partkey"), col("score"))
        .orderBy(col("p_brand"), col("p_partkey"))),

    // Cross-source contamination matrix: distinct shared shingles per
    // source pair — Spark intersects 64-bit kernel hashes, the oracle
    // intersects the shingle STRINGS (the q_ngram_jaccard precedent:
    // counts agree because 64-bit collisions are vanishing)
    "q_cross_source" -> ((s, dir) =>
      Curation.crossSourceOverlapPre(
          Lineage.cut(docShingles(s, dir) // both self-join branches read it
            .select(col("source").as("_src"), explode(col("sh")).as("h"))
            .distinct(), "q_cross_source.shingles"))
        .orderBy(col("source_a"), col("source_b"))),

    // Deterministic 3-way train/val/test split: the first 16 md5 bits
    // as an integer against 0.8/0.9 thresholds — map-only, and the
    // same row lands in the same split on any engine or rerun
    "q_split" -> ((s, dir) => {
      val u16 = conv(substring(md5(col("doc_id").cast("string").cast("binary")),
        1, 4), 16, 10).cast("long")
      Tables.documents(s, dir)
        .select(col("source"),
          when(u16 < 52429L, "train").when(u16 < 58982L, "val")
            .otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("split"))
    }),

    // Deterministic epoch shuffle WITH a global rank: order by a salted
    // md5 key, rank via the two-level globalOrderIndex (block = first
    // hex digit — a monotone prefix of the key; never a one-partition
    // window). The rank column makes the shuffle order itself
    // hash-verified — the driver compare sorts rows, so order-only
    // output would not pin the permutation.
    "q_shuffle_rank" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":ep1")).cast("binary")).as("skey"))
      Packing.globalOrderIndex(keyed, substring(col("skey"), 1, 1),
          Seq(col("skey"), col("doc_id")))
        .select(col("doc_id"), col("skey"), col("rank"))
        .orderBy(col("rank"))
    }),

    // Curriculum binning: exact distributed NTILE(4) over the (hash-
    // verified) quality score — global rank from the two-level scan,
    // bucket from integer arithmetic, so the oracle is DuckDB's own
    // ntile window under the identical total order
    "q_quality_bins" -> ((s, dir) => {
      // NOT spread (r16 measured non-lever): a pre-kernel spread made
      // this one SLOWER (1.13 → 1.28 s, task time 1.4 → 17 s) — the
      // two-level globalOrderIndex above re-ranks per input partition,
      // so extra partitions multiply its window state, unlike the flat
      // aggregate shapes where the spread won (q_pareto_docs)
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalytics.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      val ranked = Packing.globalOrderIndex(scored,
        floor(col("quality") * 10).cast("int"), Seq(col("quality"), col("doc_id")))
      val n = ranked.agg(count(lit(1)).as("_n"))
      ranked.crossJoin(broadcast(n))
        .select(col("source"),
          Packing.ntileFromRank(col("rank"), col("_n"), 4).as("bin"))
        .groupBy(col("bin"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bin"), col("source"))
    }),

    // k-anonymity audit (k=5) on the quasi-identifier combination
    // (event_type, weekday, $20 value band): combinations observed
    // fewer than k times — the re-identification risk surface a
    // training-data release must review. One bounded-dimension reduce.
    "q_kanon" -> ((s, dir) =>
      Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"),
          expr("pmod((unix_micros(ts) div 86400000000) + 4, 7)").as("dow"),
          expr("cast(round(value * 100) as bigint) div 2000").as("band"))
        .groupBy(col("event_type"), col("dow"), col("band"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") < 5)
        .orderBy(col("event_type"), col("dow"), col("band"))),

    // Source-concentration indices over documents and token mass:
    // Herfindahl–Hirschman index Σm²/t², effective source count t²/Σm²,
    // top share — the "is this corpus one crawl in a trenchcoat" gate.
    // Integer masses squared and summed EXACTLY (decimal(38,0)/HUGEINT
    // — a float Σ shares² would be summation-order-dependent); the only
    // float steps are three final divisions
    "q_concentration" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def conc(dim: DataFrame, basis: String): DataFrame =
        dim.agg(sum(col("m")).as("_t"), sum(col("m") * col("m")).as("_s2"),
            max(col("m")).as("_mx"))
          .select(lit(basis).as("basis"),
            round(col("_s2").cast("double") /
              (col("_t").cast("double") * col("_t").cast("double")), 6)
              .as("hhi"),
            round(col("_t").cast("double") * col("_t").cast("double") /
              col("_s2").cast("double"), 4).as("effective_sources"),
            round(col("_mx").cast("double") / col("_t").cast("double"), 6)
              .as("top_share"))
      val byDocs = docs.groupBy(col("source"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("m"))
      val byTokens = docs.groupBy(col("source"))
        .agg(sum(TextAnalytics.tokenCount(col("text")).cast("long"))
          .cast("decimal(38,0)").as("m"))
      conc(byDocs, "docs").unionAll(conc(byTokens, "tokens"))
        .orderBy(col("basis"))
    }),

    // DSIR importance scores (Xie et al. 2023): hashed unigram+bigram
    // bucket distributions, target = the first four sources as the
    // "high-quality" slice; grams reduce to (id, bucket, count) before
    // any join, both distributions are bounded broadcast dimensions
    "q_dsir" -> ((s, dir) =>
      Curation.dsirScores(Tables.documents(s, dir), "doc_id", "text",
          col("source").isin("src0", "src1", "src2", "src3"), buckets = 256)
        .select(col("id").as("doc_id"), col("n_grams"), col("dsir_score"))
        .orderBy(col("doc_id"))),

    // l-diversity audit (Machanavajjhala et al. 2007) — the k-anonymity
    // upgrade q_kanon feeds into: a quasi-identifier cell is unsafe if
    // its SENSITIVE values are homogeneous even when the cell is large;
    // report each (type, dow) cell's distinct sensitive-band count
    "q_ldiversity" -> ((s, dir) =>
      Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"),
          expr("pmod((unix_micros(ts) div 86400000000) + 4, 7)").as("dow"),
          expr("cast(round(value * 100) as bigint) div 2000").as("band"))
        .groupBy(col("event_type"), col("dow"))
        .agg(countDistinct(col("band")).as("l_div"), count(lit(1)).as("n"))
        .withColumn("risky", col("l_div") < 3)
        .orderBy(col("event_type"), col("dow"))),

    // the DSIR pipeline expressed purely in spark.sql — same md5 bucket
    // contract, smoothing, and ln ratio as q_dsir (whose oracle it
    // shares verbatim): the SQL surface tracks the DataFrame surface
    "q_dsir_sql" -> ((s, dir) => {
      // SQL twin of the DataFrame surface's kernel spread (see Par /
      // Curation.dsirBucketed): hint text is empty past one split.
      // Keyed by the token ARRAY `l`, not doc_id: a doc_id-keyed spread
      // satisfies bk's (doc_id, source, b) grouping, deleting bk's own
      // exchange — the reuse point that keeps the gram kernel at one
      // evaluation for bk's two consumers (hints can't carry derived
      // expressions, so a non-grouping column stands in for Par's
      // xxhash64 key).
      val sp = Par.spreadSmallScanHint(
        s.read.parquet(s"$dir/documents.parquet"), "l")
      s.sql(
        raw"""WITH t AS (
           |  SELECT $sp doc_id, source,
           |    filter(split(text, '\\s+'), x -> length(x) > 0) AS l
           |  FROM parquet.`$dir/documents.parquet`),
           |g AS (
           |  SELECT doc_id, source,
           |    explode(concat(l, transform(
           |      slice(l, 1, greatest(size(l) - 1, 0)),
           |      (x, i) -> concat(x, ' ', l[i + 1])))) AS gram
           |  FROM t),
           |bk AS (
           |  SELECT doc_id, source,
           |    pmod(CAST(conv(substring(md5(CAST(gram AS BINARY)), 1, 8),
           |      16, 10) AS BIGINT), 256) AS b,
           |    count(*) AS c
           |  FROM g GROUP BY 1, 2, 3),
           |dim AS (SELECT b, sum(c) AS cr,
           |          sum(CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
           |              THEN c ELSE CAST(0 AS BIGINT) END) AS ct
           |        FROM bk GROUP BY b),
           |llr AS (SELECT b,
           |          ln(CAST(ct + 1 AS DOUBLE) / (sum(ct) OVER () + 256)) -
           |          ln(CAST(cr + 1 AS DOUBLE) / (sum(cr) OVER () + 256)) AS llr
           |        FROM dim)
           |SELECT /*+ BROADCAST(llr) */ doc_id, sum(c) AS n_grams,
           |  round(sum(c * llr), 4) AS dsir_score
           |FROM bk JOIN llr USING (b)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),
  )

  // q_decontaminate_sql / q_dsir_sql compute tables identical to their
  // DataFrame twins, so they share those oracles verbatim.
  val oracles: Seq[(String, String)] = {
    val base = declaredOracles
    base ++ Seq(
      "q_decontaminate_sql" -> base.toMap.apply("q_decontaminate"),
      "q_dsir_sql" -> base.toMap.apply("q_dsir"))
  }

  private def declaredOracles: Seq[(String, String)] = Seq(
    "q_stratified_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    "q_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(cast(doc_id AS VARCHAR)), 1, 1) < '2'
        |ORDER BY doc_id""".stripMargin,

    // flat-window oracle for the two-level prefix sum: same offsets
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |         x -> length(x) > 0)) AS BIGINT) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    coalesce(sum(toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM t)
        |SELECT CAST(floor(strt / 512.0) AS BIGINT) AS seq_id,
        |       count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1 ORDER BY seq_id""".stripMargin,

    // the q_ngram_jaccard pair CTE + the q_split hash mapping
    "q_split_leakage" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0)) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |        FROM documents) t),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
        |sp AS (SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < 52429
        |         THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < 58982
        |         THEN 'val'
        |       ELSE 'test' END AS split FROM documents)
        |SELECT sa.split AS split_a, sb.split AS split_b,
        |       count(*) AS n_leaked_pairs
        |FROM p JOIN sp sa ON p.id_a = sa.doc_id
        |       JOIN sp sb ON p.id_b = sb.doc_id
        |WHERE sa.split <> sb.split
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_source_mixture" ->
      """SELECT source, count(*) AS n_kept
        |FROM documents
        |WHERE CASE source
        |  WHEN 'src0' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'ff'
        |  WHEN 'src1' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
        |  WHEN 'src2' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |  WHEN 'src3' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  ELSE false END
        |GROUP BY source ORDER BY source""".stripMargin,

    // identical share/pow/normalize tree on both sides
    "q_mixture_weights" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                             t -> length(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t,
        |               sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM per)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share,
        |  round(pow(CAST(n_tokens AS DOUBLE), 0.5) / z, 6) AS weight
        |FROM per, tot ORDER BY source""".stripMargin,

    // components CTE copied verbatim from q_dedup_clusters_ngram, then
    // the inflation aggregates; keeper-token pick via row_number (the
    // deterministic mirror of Spark's min(struct(id, n_tokens)))
    "q_dup_inflation" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0)) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |        FROM documents) t),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |toks AS (SELECT doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |         FROM documents),
        |withcl AS (
        |  SELECT t.doc_id AS id, t.n_tokens,
        |    coalesce(cl.cluster_id, t.doc_id) AS cluster_id
        |  FROM toks t LEFT JOIN cl ON cl.id = t.doc_id),
        |per AS (
        |  SELECT cluster_id, count(*) AS cluster_size,
        |    CAST(sum(n_tokens) AS BIGINT) AS tok,
        |    CAST(sum(CASE WHEN rk = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS keeper_tok
        |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY id) AS rk
        |        FROM withcl) w
        |  GROUP BY cluster_id)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(tok - keeper_tok) AS BIGINT) AS dropped_tokens
        |FROM per GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // quality subtree copied verbatim from q_quality_score; both engines
    // rank by the ROUNDED quality with doc_id tie-break
    "q_source_cap" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    round((len_score + punct_score + sw_score) / 3.0, 4) AS quality
        |  FROM (SELECT doc_id, source,
        |          least(length(text) / 500.0, 1.0) AS len_score,
        |          1.0 - least(
        |            (CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text)
        |             END) * 5.0, 1.0) AS punct_score,
        |          1.0 - abs(
        |            (CASE WHEN len(toks) = 0 THEN 0.0
        |                  ELSE len(list_filter(toks, t -> t IN ('the','a','of','and'))) * 1.0 / len(toks)
        |             END) - 0.4) AS sw_score
        |        FROM (SELECT doc_id, source, text,
        |                list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toks
        |              FROM documents) a) b)
        |SELECT doc_id, source, quality, rk FROM (
        |  SELECT doc_id, source, quality,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
        |  FROM q) t
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,

    // dominance by brute-force NOT EXISTS — the O(n²) oracle of the
    // two-bounded-aggregate frontier; equal twins survive on both sides
    "q_pareto_docs" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    round((len_score + punct_score + sw_score) / 3.0, 4) AS quality,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, text,
        |          least(length(text) / 500.0, 1.0) AS len_score,
        |          1.0 - least(
        |            (CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text)
        |             END) * 5.0, 1.0) AS punct_score,
        |          1.0 - abs(
        |            (CASE WHEN len(toks) = 0 THEN 0.0
        |                  ELSE len(list_filter(toks, t -> t IN ('the','a','of','and'))) * 1.0 / len(toks)
        |             END) - 0.4) AS sw_score
        |        FROM (SELECT doc_id, text,
        |                list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toks
        |              FROM documents) a) b)
        |SELECT doc_id, quality, n_tokens FROM q p
        |WHERE NOT EXISTS (SELECT 1 FROM q o WHERE
        |  (o.quality > p.quality AND o.n_tokens <= p.n_tokens) OR
        |  (o.quality >= p.quality AND o.n_tokens < p.n_tokens))
        |ORDER BY quality DESC, n_tokens, doc_id""".stripMargin,

    // Same string-shingle-vs-64-bit-hash equivalence as q_ngram_jaccard:
    // the benchmark's distinct shingle universe is a flattened list and
    // overlap counts come from list_intersect.
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0)) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |        FROM documents) t),
        |bench AS (SELECT list_distinct(flatten(list(s))) AS bs FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, cast(len(s) AS BIGINT) AS n_sh,
        |  cast(len(list_intersect(s, bs)) AS BIGINT) AS n_shared,
        |  round(CASE WHEN len(s) = 0 THEN 0.0
        |             ELSE len(list_intersect(s, bs)) * 1.0 / len(s) END, 4) AS overlap_frac,
        |  len(list_intersect(s, bs)) > 0 AS contaminated
        |FROM sh CROSS JOIN bench WHERE doc_id % 50 != 0
        |ORDER BY doc_id""".stripMargin,

    // Bloom prefilter has no false negatives and survivors are
    // exact-verified, so the bloom variant matches the exact oracle
    // verbatim
    "q_decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0)) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |        FROM documents) t),
        |bench AS (SELECT list_distinct(flatten(list(s))) AS bs FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, cast(len(s) AS BIGINT) AS n_sh,
        |  cast(len(list_intersect(s, bs)) AS BIGINT) AS n_shared,
        |  round(CASE WHEN len(s) = 0 THEN 0.0
        |             ELSE len(list_intersect(s, bs)) * 1.0 / len(s) END, 4) AS overlap_frac,
        |  len(list_intersect(s, bs)) > 0 AS contaminated
        |FROM sh CROSS JOIN bench WHERE doc_id % 50 != 0
        |ORDER BY doc_id""".stripMargin,

    // Composition of the q_quality_score / q_repetition / q_decontaminate
    // fragments plus a min-per-text-partition exact keeper (Spark groups
    // by xxhash64(text) — same equivalence classes as the text itself
    // barring a 2^-64 collision, the q_dedup_hash argument).
    "q_curation_pipeline" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0)) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
        |        FROM documents) t),
        |bench AS (SELECT list_distinct(flatten(list(s))) AS bs FROM sh WHERE doc_id % 50 = 0),
        |docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 != 0),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(CAST((len_score + punct_score + sw_score) / 3.0
        |      AS VARCHAR) AS DECIMAL(25,18)), 4) AS DOUBLE) AS quality,
        |    round(CASE WHEN len(toks) = 0 THEN 0.0
        |               ELSE 1.0 - len(list_distinct(toks)) * 1.0 / len(toks) END, 4)
        |      AS dup_token_frac
        |  FROM (SELECT doc_id, toks,
        |          least(length(text) / 500.0, 1.0) AS len_score,
        |          1.0 - least(
        |            (CASE WHEN length(text) = 0 THEN 0.0
        |                  ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text)
        |             END) * 5.0, 1.0) AS punct_score,
        |          1.0 - abs(
        |            (CASE WHEN len(toksl) = 0 THEN 0.0
        |                  ELSE len(list_filter(toksl, t -> t IN ('the','a','of','and'))) * 1.0 / len(toksl)
        |             END) - 0.4) AS sw_score
        |        FROM (SELECT doc_id, text,
        |                list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks,
        |                list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toksl
        |              FROM docs) a) b),
        |con AS (
        |  SELECT doc_id, len(list_intersect(s, bs)) > 0 AS contaminated
        |  FROM sh CROSS JOIN bench WHERE doc_id % 50 != 0),
        |keepers AS (
        |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY text) AS is_exact_keeper
        |  FROM docs)
        |SELECT g.doc_id, g.quality, g.dup_token_frac, c.contaminated, k.is_exact_keeper,
        |  (g.quality >= 0.5 AND g.dup_token_frac <= 0.6
        |   AND NOT c.contaminated AND k.is_exact_keeper) AS keep
        |FROM sig g JOIN con c USING (doc_id) JOIN keepers k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // quality subtree copied verbatim from q_quality_score — including
    // its VARCHAR::DECIMAL round mirror (Spark rounds the shortest
    // decimal form half-up; see the q_quality_score oracle note);
    // exact-long running sum so the budget cut cannot float-flip
    "q_token_budget" ->
      """SELECT doc_id, source, quality, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, source, quality, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM (SELECT doc_id, source,
        |          CAST(round(CAST(CAST((least(length(text) / 500.0, 1.0)
        |            + (1.0 - least(
        |                (CASE WHEN length(text) = 0 THEN 0.0
        |                      ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text)
        |                 END) * 5.0, 1.0))
        |            + (1.0 - abs(
        |                (CASE WHEN len(toks) = 0 THEN 0.0
        |                      ELSE len(list_filter(toks, t -> t IN ('the','a','of','and'))) * 1.0 / len(toks)
        |                 END) - 0.4))) / 3.0
        |            AS VARCHAR) AS DECIMAL(25,18)), 4) AS DOUBLE) AS quality,
        |          CAST(len(toks) AS BIGINT) AS n_tokens
        |        FROM (SELECT doc_id, source, text,
        |                list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toks
        |              FROM documents) a) b) c
        |WHERE cum_tokens <= 800 ORDER BY source, doc_id""".stripMargin,

    "q_shuffle_rank" ->
      """SELECT doc_id, skey, rank FROM (
        |  SELECT doc_id, md5(cast(doc_id AS VARCHAR) || ':ep1') AS skey,
        |    row_number() OVER (
        |      ORDER BY md5(cast(doc_id AS VARCHAR) || ':ep1'), doc_id) AS rank
        |  FROM documents) t
        |ORDER BY rank""".stripMargin,

    // ntile over the identical (quality, doc_id) total order — the
    // quality expression is q_quality_score's hash-verified formula
    "q_quality_bins" ->
      """WITH q AS (SELECT doc_id, source,
        |  round((least(length(text) / 500.0, 1.0)
        |   + 1.0 - least(
        |       (CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0 / length(text)
        |        END) * 5.0, 1.0)
        |   + 1.0 - abs(
        |       (CASE WHEN len(toks) = 0 THEN 0.0
        |             ELSE len(list_filter(toks, t -> t IN ('the','a','of','and'))) * 1.0 / len(toks)
        |        END) - 0.4)) / 3.0, 4) AS quality
        |FROM (SELECT doc_id, source,
        |        list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0) AS toks,
        |        text
        |      FROM documents) a),
        |b AS (SELECT source,
        |        ntile(4) OVER (ORDER BY quality, doc_id) AS bin FROM q)
        |SELECT bin, source, count(*) AS n_docs FROM b
        |GROUP BY bin, source ORDER BY bin, source""".stripMargin,

    "q_weighted_sample" ->
      """WITH s AS (SELECT p_brand, p_partkey,
        |  round(pow((('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 12))::BIGINT + 1)
        |              / 281474976710656.0,
        |            1.0 / p_retailprice), 9) AS score FROM part)
        |SELECT p_brand, p_partkey, score FROM (
        |  SELECT p_brand, p_partkey, score, row_number() OVER (
        |    PARTITION BY p_brand ORDER BY score DESC, p_partkey) AS rk
        |  FROM s) t
        |WHERE rk <= 3 ORDER BY p_brand, p_partkey""".stripMargin,

    "q_cross_source" ->
      """WITH sh AS (
        |  SELECT DISTINCT source, shingle FROM (
        |    SELECT source, unnest(list_distinct(list_filter(
        |      list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(toks[i+1:i+3], ' ')),
        |      s -> length(s) > 0))) AS shingle
        |    FROM (SELECT source,
        |            list_filter(string_split_regex(text, '\s+'),
        |              t -> length(t) > 0) AS toks
        |          FROM documents) t) u)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       count(*) AS n_shared
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_split" ->
      """SELECT source,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < 52429
        |         THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < 58982
        |         THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_kanon" ->
      """SELECT event_type,
        |  ((epoch_ns(ts)//1000) // 86400000000 + 4) % 7 AS dow,
        |  CAST(round(value * 100) AS BIGINT) // 2000 AS band,
        |  count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) < 5
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_concentration" ->
      """WITH bd AS (SELECT source, CAST(count(*) AS HUGEINT) AS m
        |            FROM documents GROUP BY 1),
        |bt AS (SELECT source, CAST(sum(CAST(len(list_filter(
        |         string_split_regex(text, '\s+'), x -> length(x) > 0))
        |         AS BIGINT)) AS HUGEINT) AS m
        |       FROM documents GROUP BY 1),
        |c AS (
        |  SELECT 'docs' AS basis,
        |    round(CAST(sum(m*m) AS DOUBLE) /
        |      (CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE)), 6) AS hhi,
        |    round(CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE) /
        |      CAST(sum(m*m) AS DOUBLE), 4) AS effective_sources,
        |    round(CAST(max(m) AS DOUBLE) / CAST(sum(m) AS DOUBLE), 6)
        |      AS top_share
        |  FROM bd
        |  UNION ALL
        |  SELECT 'tokens' AS basis,
        |    round(CAST(sum(m*m) AS DOUBLE) /
        |      (CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE)), 6) AS hhi,
        |    round(CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE) /
        |      CAST(sum(m*m) AS DOUBLE), 4) AS effective_sources,
        |    round(CAST(max(m) AS DOUBLE) / CAST(sum(m) AS DOUBLE), 6)
        |      AS top_share
        |  FROM bt)
        |SELECT * FROM c ORDER BY basis""".stripMargin,

    // same md5-bucketed feature hash, add-1 smoothing, and ln ratio;
    // bigrams via the q_cross_source list_transform precedent
    "q_dsir" ->
      """WITH t AS (SELECT doc_id, source,
        |        list_filter(string_split_regex(text, '\s+'),
        |          x -> length(x) > 0) AS l
        |      FROM documents),
        |g AS (SELECT doc_id, source, unnest(l) AS gram FROM t
        |      UNION ALL
        |      SELECT doc_id, source,
        |        unnest(list_transform(range(0, greatest(len(l) - 1, 0)),
        |          i -> l[i + 1] || ' ' || l[i + 2])) AS gram
        |      FROM t),
        |b AS (SELECT doc_id, source,
        |        (('0x' || substr(md5(gram), 1, 8))::BIGINT) % 256 AS b,
        |        count(*) AS c
        |      FROM g GROUP BY 1, 2, 3),
        |raw AS (SELECT b, sum(c) AS cr FROM b GROUP BY 1),
        |tgt AS (SELECT b, sum(c) AS ct FROM b
        |        WHERE source IN ('src0', 'src1', 'src2', 'src3')
        |        GROUP BY 1),
        |dim AS (SELECT raw.b AS b, cr, coalesce(ct, 0) AS ct
        |        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
        |tot AS (SELECT sum(cr) AS totr, sum(ct) AS tott FROM dim),
        |llr AS (SELECT b,
        |          ln(CAST(ct + 1 AS DOUBLE) / (tott + 256)) -
        |          ln(CAST(cr + 1 AS DOUBLE) / (totr + 256)) AS llr
        |        FROM dim CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  round(sum(c * llr), 4) + 0 AS dsir_score
        |FROM b JOIN llr USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ^ the `+ 0` folds DuckDB's negative zero into +0: round() of a
    // tiny negative sum keeps the IEEE sign bit in DuckDB, while
    // Spark's Round goes through BigDecimal, which has no signed zero —
    // the sf1 sweep caught 8 docs whose scores rounded to -0 vs 0.
    // IEEE addition (-0) + (+0) = +0, and every other value is
    // unchanged, so the mirror is exact.

    "q_ldiversity" ->
      """SELECT event_type,
        |  ((epoch_ns(ts)//1000) // 86400000000 + 4) % 7 AS dow,
        |  count(DISTINCT CAST(round(value * 100) AS BIGINT) // 2000)
        |    AS l_div,
        |  count(*) AS n,
        |  count(DISTINCT CAST(round(value * 100) AS BIGINT) // 2000) < 3
        |    AS risky
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
