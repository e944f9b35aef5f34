package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Funnel, Graphs, Ivf, Packing, Retrieval, Skew, Stats, Timeseries}

/** Adversarial-shape scale evidence for the three paths the round-4
  * review flagged as needing proof past the sf dirs:
  *
  *  1. `Dedup.fuzzyPairs` at a ≥10M-name dictionary — candidates must
  *     grow O(n·window) with the dictionary (the old last-token
  *     equality blocking grew O(n²/|dict|) inside ~92 fixed blocks).
  *  2. `Dedup.clustersStarWithRounds` at ≥10M edges INCLUDING a
  *     2M-node chain component — diameter 2M, where min-label
  *     propagation needs O(diameter) rounds and large-star/small-star
  *     must converge in O(log n).
  *  3. `Graphs.pageRank(orderedSum = true)` on a deliberately
  *     power-law graph (one vertex with ~10M in-edges) — the shape the
  *     old per-vertex `array_sort(collect_list)` fold could not buffer
  *     (an 80 MB+ array in ONE aggregation buffer); the windowed fold
  *     must stream/spill it.
  *
  *   SPARK_DRIVER_MEM=64g sbt "runMain graft.tools.StressBench [nNames] [nEdges] [hubDeg] [sections]"
  *
  * `sections` (default 1–22) picks which runs execute, so a new
  * section can be measured without re-paying the earlier ones; the
  * decade-scale endurance runs (23/24) and the hot-bucket boundary run
  * (25) are opt-in by number.
  */
object StressBench {
  /** 64-d deterministic synthetic embedding: component j of vector `id`
    * is xxhash64(id, j) mod 2001, rescaled to [-1, 1). Sections 24/25
    * MUST share this one definition — the section-25 collider count in
    * docs/THROUGHPUT.md was measured over exactly these vectors ("same
    * kernel, same ids"), and a private copy drifting would invalidate it
    * with no compile-time signal.
    */
  def vecOf64(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(id, i), lit(2001)).cast("double") / 1000.0) - 1.0)
      .cast("array<float>")

  /** Delete a checkpoint tree — a decade-scale run leaves ~30 GB of
    * RocksDB snapshots + changelog, reclaimed once the measurement is
    * captured.
    */
  def rmRecursive(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmRecursive)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val nNames = if (args.length > 0) args(0).toLong else 10000000L
    val nEdges = if (args.length > 1) args(1).toLong else 10000000L
    val hubDeg = if (args.length > 2) args(2).toLong else 10000000L
    val sections: Set[Int] =
      if (args.length > 3) args(3).split(",").map(_.trim.toInt).toSet
      else (1 to 22).toSet
    def section(n: Int)(body: => Unit): Unit = if (sections(n)) body
    val cpus = ToolSession.cpus
    val spark = ToolSession()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // Teardown discipline for the RocksDB-backed streaming sections
    // (18/20/21/22/23/24/25): `query.stop()` leaves every loaded
    // RocksDBStateStoreProvider — and its native background threads,
    // whose info-log callbacks re-enter the JVM through
    // rocksdb::LoggerJniCallback — alive until something unloads them.
    // Racing that against `spark.stop()`/JVM shutdown SIGSEGV'd twice
    // in r14 (hs_err excerpts in docs/THROUGHPUT.md); a post-stop drain
    // sleep demonstrably does not cover it. StateStore.stop() closes
    // every loaded provider SYNCHRONOUSLY on this thread (RocksDB.close
    // joins the native threads and tears down the JNI logger) and stops
    // the maintenance task; providers reload lazily, so calling it
    // between sections is safe.
    def unloadStateStores(): Unit =
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    // Every section below runs inside this try: no exception path may
    // reach JVM shutdown with RocksDB native threads still loaded (the
    // twice-witnessed r14 SIGSEGV) — the finally unloads providers and
    // stops Spark even when a section throws past its per-section
    // unload. Section bodies keep their indentation (brace-scoped).
    try {

    // ---- 1. fuzzy join over a hash-syllable name dictionary. 6
    // syllables from a 32-entry alphabet = 2^30 combos, so ~10M draws
    // stay ~99% distinct; every 10th name also plants a 1-char suffix
    // mutation of another name (a guaranteed dist-1 pair for recall
    // sanity). Candidate count is structurally ≤ 2·window·n.
    val syl = (0 until 32).map(i => f"${('a' + i % 26).toChar}${"aeiou" (i % 5)}")
    def nameOf(idCol: org.apache.spark.sql.Column) =
      concat_ws("", (0 until 6).map(j =>
        element_at(typedLit(syl), (pmod(xxhash64(idCol, lit(j)), lit(32)) + 1).cast("int"))): _*)
    section(1) {
      val names = spark.range(nNames)
        .select(when(col("id") % 10 === 0, concat(nameOf(col("id") + 1), lit("x")))
          .otherwise(nameOf(col("id"))).as("name"))
        .localCheckpoint(true)
      val nDistinct = names.select(col("name")).distinct().count()
      val ((nFuzzyPairs, nDist1), tFuzzy) = timed {
        val p = Dedup.fuzzyPairs(names, "name", window = 10, maxDist = 3)
          .localCheckpoint(true)
        (p.count(), p.where(col("dist") === 1).count())
      }
      println(s"""{"metric":"fuzzy_join","names":$nNames,"distinct":$nDistinct,"window":10,"pairs":$nFuzzyPairs,"dist1_pairs":$nDist1,"sec":$tFuzzy,"cpus":$cpus}""")
    }

    // ---- 2. star CC on chain + clusters. Component shapes: one chain
    // over ids 0..2M (diameter 2M) and ~1.6M five-node stars for the
    // remaining edges. Convergence must be logarithmic in the chain
    // length, and the whole chain must land in ONE component.
    section(2) {
      val chainN = (nEdges / 5).min(2000000L).max(10L)
      val chain = spark.range(chainN)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val nClusterEdges = (nEdges - chainN).max(0L)
      val clusterBase = chainN + 1
      val clusterEdges = spark.range(nClusterEdges).select(
        (lit(clusterBase) + pmod(xxhash64(col("id")), lit(1600000)) * 5).as("src"),
        (lit(clusterBase) + pmod(xxhash64(col("id")), lit(1600000)) * 5
          + 1 + pmod(xxhash64(col("id"), lit(1)), lit(4))).as("dst"))
      val p = chain.unionAll(clusterEdges)
        .select(col("src"), col("dst")).localCheckpoint(true)
      val ((labels, rounds), tCc) = timed {
        val (l, r) = Dedup.clustersStarWithRounds(p, maxIters = 30, reliable = false)
        val lc = l.localCheckpoint(true); lc.count(); (lc, r)
      }
      val chainComponents = labels.where(col("id") <= chainN)
        .select(col("cluster_id")).distinct().count()
      val nComponents = labels.select(col("cluster_id")).distinct().count()
      require(chainComponents == 1L, s"chain split into $chainComponents components")
      println(s"""{"metric":"star_cc","edges":$nEdges,"chain_nodes":${chainN + 1},"rounds":$rounds,"components":$nComponents,"chain_components":$chainComponents,"sec":$tCc,"cpus":$cpus}""")
    }

    // ---- 3. hub-heavy PageRank: spokes 1..hubDeg each point at vertex
    // 0 (one in-degree-hubDeg aggregation partition), hub points back at
    // vertex 1, plus a spoke ring so every vertex has an out-edge.
    val spokes = spark.range(1, hubDeg + 1)
      .select(col("id").as("src"), lit(0L).as("dst"))
    section(3) {
      val ring = spark.range(1, hubDeg + 1)
        .select(col("id").as("src"), (col("id") % hubDeg + 1).as("dst"))
      val hubEdges = spokes.unionAll(ring)
        .unionAll(spark.range(1).select(lit(0L).as("src"), lit(1L).as("dst")))
        .localCheckpoint(true)
      val (prSum, tPr) = timed {
        Graphs.pageRank(hubEdges, "src", "dst", iters = 5, orderedSum = true)
          .agg(sum(col("pr"))).head().getDouble(0)
      }
      println(s"""{"metric":"pagerank_hub","edges":${2 * hubDeg + 1},"hub_in_degree":$hubDeg,"iters":5,"ordered_sum":true,"pr_sum":$prSum,"sec":$tPr,"cpus":$cpus}""")
    }

    // ---- 4. triangle counting with a 10M-degree hub IN the triangles:
    // chain vertices link their two successors and every vertex links
    // the hub, so the hub sits in ~2·hubDeg triangles — but the degree
    // orientation points every hub edge TOWARD the hub (max degree ⇒
    // zero oriented out-edges), so hub wedges are ZERO and the fan-out
    // stays at the chain vertices' O(1) out-degrees. The naive
    // shared-neighbor join would generate deg² = 10^14 hub wedges.
    // Expected: {i,i+1,i+2} ×(h−2), {0,i,i+1} ×(h−1), {0,i,i+2} ×(h−2).
    section(4) {
      val chainTri = spark.range(1, hubDeg)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .unionAll(spark.range(1, hubDeg - 1)
          .select(col("id").as("src"), (col("id") + 2).as("dst")))
      val triEdges = chainTri.unionAll(spokes).localCheckpoint(true)
      val ((nTriVerts, totTri), tTri) = timed {
        val t = Graphs.triangleCounts(triEdges, "src", "dst").localCheckpoint(true)
        (t.count(), t.agg(sum(col("n_tri"))).head().getLong(0))
      }
      require(totTri / 3 == 3 * hubDeg - 5, s"triangles ${totTri / 3} != ${3 * hubDeg - 5}")
      println(s"""{"metric":"triangles_hub","edges":${3 * hubDeg - 3},"hub_in_degree":$hubDeg,"triangles":${totTri / 3},"vertices_in_triangles":$nTriVerts,"sec":$tTri,"cpus":$cpus}""")
    }

    // ---- 5. TF-IDF at 1M docs (80 tokens, 50k vocab), per-doc top-5
    section(5) {
      val nDocs = 1000000L
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(0), lit(79)),
            i => concat(lit("t"), pmod(xxhash64(col("id"), i), lit(50000)))), " ").as("text"))
        .localCheckpoint(true)
      val (nTfidf, tTfidf) = timed {
        Retrieval.tfidf(docs, "doc_id", "text", topK = 5).count()
      }
      println(s"""{"metric":"tfidf","docs":$nDocs,"topk":5,"rows":$nTfidf,"sec":$tTfidf,"cpus":$cpus}""")
    }

    // ---- 6. RAG chunking at 10M docs — map-only, so this measures
    // pure scan+fan-out throughput (3 chunks/doc at 40/30 over 80 toks)
    section(6) {
      val chunkDocs = spark.range(10000000L).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(79)),
          i => concat(lit("t"), pmod(xxhash64(col("id"), i), lit(50000)))), " ").as("text"))
      val (nChunks, tChunk) = timed {
        Packing.chunkByTokens(chunkDocs, "doc_id", "text", 40, 30).count()
      }
      println(s"""{"metric":"chunk_tokens","docs":10000000,"chunks":$nChunks,"sec":$tChunk,"cpus":$cpus}""")
    }
    // ---- 7. gap-fill resample at 50M events / 100k keys / 365-day
    // span — the spine explodes to ~36.5M (key, day) rows and the ffill
    // window holds ≤365 rows per key
    section(7) {
      val nEv = 50000000L
      val keys = 100000L
      val ev = spark.range(nEv).select(
        pmod(col("id"), lit(keys)).as("key"),
        timestamp_micros(lit(1700000000000000L) +
          pmod(xxhash64(col("id")), lit(365L * 86400000000L))).as("ts"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("v"))
      val (nRs, tRs) = timed {
        Timeseries.resample(ev, "key", "ts", col("v"), 86400000000L).count()
      }
      println(s"""{"metric":"resample","events":$nEv,"keys":$keys,"grid_rows":$nRs,"sec":$tRs,"cpus":$cpus}""")
    }

    // ---- 8. Markov transitions at 50M events / 1M users — one
    // user-keyed sort window, output is the bounded 20x20 matrix
    section(8) {
      val nEv = 50000000L
      val ev = spark.range(nEv).select(
        pmod(col("id"), lit(1000000L)).as("user"),
        timestamp_micros(lit(1700000000000000L) +
          pmod(xxhash64(col("id")), lit(365L * 86400000000L))).as("ts"),
        col("id").as("eid"),
        concat(lit("e"), pmod(xxhash64(col("id"), lit(2)), lit(20))).as("et"))
      val ((nCells, total), tTr) = timed {
        val t = Funnel.transitions(ev, "user", "ts", "et", "eid").localCheckpoint(true)
        (t.count(), t.agg(sum(col("n"))).head().getLong(0))
      }
      require(total == nEv - 1000000L, s"transitions $total != ${nEv - 1000000L}")
      println(s"""{"metric":"transitions","events":$nEv,"users":1000000,"cells":$nCells,"sec":$tTr,"cpus":$cpus}""")
    }

    // ---- 9. Gini skew profile at 50M rows / ~1M-key dimension — the
    // two-level rank runs over the key-count dimension, never the rows
    section(9) {
      val nRows = 50000000L
      val df = spark.range(nRows).select(
        (pmod(xxhash64(col("id")), lit(1000L)) *
          pmod(xxhash64(col("id"), lit(3)), lit(1000L))).as("k"))
      val (row, tG) = timed { Stats.giniOfCounts(df, col("k")).head() }
      println(s"""{"metric":"gini","rows":$nRows,"n_keys":${row.getLong(1)},"gini":${row.getDouble(0)},"sec":$tG,"cpus":$cpus}""")
    }
    // ---- 10. prefix filtering vs the all-shingle join at 500k docs.
    // Corpus shape is the adversarial one for the all-shingle join:
    // every doc opens with one of 1000 boilerplate phrases, so each
    // phrase shingle is shared by ~500 docs and the full join must
    // aggregate ~1000 · 500²/2 ≈ 1.25e8 candidate rows; 1000 planted
    // exact-dup pairs are the true positives. The frequency-ascending
    // prefix skips the hot phrase shingles entirely.
    section(10) {
      val nDocs = 500000L
      // boilerplate pool size: smaller pool ⇒ hotter phrase shingles ⇒
      // more candidate rows for the all-shingle join (df ≈ nDocs/pool).
      // Reuses the first CLI arg when set (the fuzzy-name count is
      // unused in a section-10-only run).
      val pool = if (nNames > 0 && nNames <= 100000L) nNames else 1000L
      val body = (i: org.apache.spark.sql.Column) => array_join(
        transform(sequence(lit(0), lit(15)),
          j => concat(lit("u"), xxhash64(i, j))), " ")
      val seed = when(col("id") < 2000L, floor(col("id") / 2) * 2L)
        .otherwise(col("id")) // ids 2i/2i+1 below 2000 share a body
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ",
            concat(lit("p"), pmod(xxhash64(seed, lit(9)), lit(pool)), lit("a")),
            concat(lit("p"), pmod(xxhash64(seed, lit(9)), lit(pool)), lit("b")),
            concat(lit("p"), pmod(xxhash64(seed, lit(9)), lit(pool)), lit("c")),
            body(seed)).as("text"))
        .localCheckpoint(true)
      val (nFast, tFast) = timed {
        Dedup.prefixFilterPairs(docs, "doc_id", "text", k = 3, threshold = 0.8).count()
      }
      val (nBrute, tBrute) = timed {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.8).count()
      }
      require(nFast == nBrute, s"ppjoin $nFast != all-shingle $nBrute")
      require(nFast >= 1000L, s"planted dups missing: $nFast")
      println(s"""{"metric":"ppjoin_vs_allshingle","docs":$nDocs,"pool":$pool,"pairs":$nFast,"sec_prefix":$tFast,"sec_allshingle":$tBrute,"cpus":$cpus}""")
    }
    // ---- 11. sweep-line peak concurrency at 50M intervals / 100 keys —
    // the HOT-KEY shape for the sweep: ~500k boundary points per key,
    // where a naive per-key window would pull a key's whole history into
    // one task; the two-level (day-block) form bounds a partition at one
    // key-day (~1.4k points here)
    section(11) {
      val nIv = 50000000L
      val start = lit(1700000000000000L) +
        pmod(xxhash64(col("id")), lit(365L * 86400000000L))
      val iv = spark.range(nIv).select(
        pmod(col("id"), lit(100L)).as("key"),
        start.as("t0"),
        (start + pmod(xxhash64(col("id"), lit(1)), lit(3600000000L)) + 1).as("t1"))
      val ((nKeys, peak), tSw) = timed {
        val r = Timeseries.maxConcurrency(iv, "key", col("t0"), col("t1"))
          .localCheckpoint(true)
        (r.count(), r.agg(max(col("max_concurrent"))).head().getLong(0))
      }
      require(nKeys == 100L, s"keys $nKeys != 100")
      println(s"""{"metric":"max_concurrency","intervals":$nIv,"keys":100,"peak":$peak,"sec":$tSw,"cpus":$cpus}""")
    }
    // ---- 12. manual salting vs AQE skew-join on ONE skewed fixture:
    // a 20M-row fact where half the rows share one hot key (the shape
    // where an unsalted shuffle pins a reducer) joined to a 1M-key dim.
    // Three runs, identical inputs/results: (a) plain shuffled join with
    // AQE skew handling OFF (the suffering baseline), (b) plain join
    // with AQE skewJoin ON — thresholds scaled to the fixture (the
    // defaults are 256 MB-per-partition, tuned for cluster shuffles, so
    // at local scale they would never fire; production-scale skew
    // crosses them on its own), (c) Skew.saltedJoin. Broadcast is
    // disabled throughout: a 1M-row dim fits a local broadcast but the
    // 100 TB dim this models does not, and a broadcast join would
    // side-step the very reducer skew being measured. Documents WHEN the
    // built-in suffices (SMJ above thresholds — AQE splits the skewed
    // partition at no code cost) and when salting still earns its keep
    // (aggregation hot keys, sub-threshold skew, shuffled-hash paths).
    section(12) {
      val nRows = 20000000L
      val nKeys = 1000000L
      val hotKey = lit(7L)
      val fact = spark.range(nRows).select(
          when(pmod(xxhash64(col("id")), lit(10L)) < 9L, hotKey)
            .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(nKeys))).as("k"),
          (col("id") % 100L).cast("double").as("v"))
        .localCheckpoint(true)
      val dim = spark.range(nKeys)
        .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"))
        .localCheckpoint(true)
      def withConfs[A](pairs: (String, String)*)(body: => A): A = {
        val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
        pairs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      // (count, sec, final AQE plan of the query that actually ran —
      // the skew=true marker only exists on the executed plan)
      def sumJoin(df: org.apache.spark.sql.DataFrame): (Long, Double, String) = {
        val agg = df.agg(count(lit(1)), sum(col("v")))
        // collect(), not head(): head() wraps a limit in a NEW query
        // execution, leaving this one un-finalized (isFinalPlan=false)
        // and the skew rewrite invisible
        val (row, t) = timed(agg.collect()(0))
        (row.getLong(0), t, agg.queryExecution.executedPlan.toString)
      }
      // untimed warm passes so no timed variant pays the
      // checkpoint-block first-read or its plan's first JIT
      sumJoin(fact.join(dim, Seq("k")))
      sumJoin(Skew.saltedJoin(fact, dim, "k", salts = 32))
      val (nOff, tOff, _) = withConfs(
        noBroadcast :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
        sumJoin(fact.join(dim, Seq("k")))
      }
      val (nAqe, tAqe, aqePlan) = withConfs(noBroadcast ++ Seq(
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          // scale the 256 MB cluster default down to the fixture
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          // the downstream one-row aggregate makes the planner see the
          // split as an extra shuffle; force it (the cluster-default
          // behavior when the join output feeds a wide consumer)
          "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"): _*) {
        sumJoin(fact.join(dim, Seq("k")))
      }
      // Spark prints the rewrite as `SortMergeJoin(skew=true)` on the
      // join and `AQEShuffleRead ... skewed` on the reader nodes
      val skewApplied = aqePlan.contains("skew=true") || aqePlan.contains("skewed")
      if (sys.env.contains("SPARK_GRAFT_DEBUG_PLAN"))
        System.err.println("[skewplan] " + aqePlan.take(4000))
      val (nSalt, tSalt, _) = withConfs(noBroadcast: _*) {
        sumJoin(Skew.saltedJoin(fact, dim, "k", salts = 32))
      }
      require(nOff == nAqe && nAqe == nSalt,
        s"skew variants disagree: off=$nOff aqe=$nAqe salted=$nSalt")
      println(s"""{"metric":"skew_join","rows":$nRows,"keys":$nKeys,"matched":$nOff,"sec_plain_noskew":$tOff,"sec_aqe_skew":$tAqe,"aqe_skew_applied":$skewApplied,"sec_salted":$tSalt,"cpus":$cpus}""")
    }
    // ---- 13. SemDeDup at scale: bucketed semantic near-dup over 200k
    // deterministic 32-d vectors with 5k planted near-identical copies
    // (first component nudged 1% — cos ≈ 0.9999, the true-duplicate
    // regime). numCentroids holds the bucket size roughly constant (the
    // SemDeDup recipe): in-bucket pair work is Σ bucket²/2, never n²/2,
    // and the Lloyd assignment is a map-only kernel pass against a
    // broadcast centroid table. Planted-pair recall is printed — true
    // dups co-cluster, so it should be ≈ 1 — alongside the honest
    // bucket-size skew (max bucket), the quantity that governs the
    // worst task.
    section(13) {
      val n = 200000L
      val nDup = 5000L
      val d = 32
      val k = 512
      def comp(idc: org.apache.spark.sql.Column, j: Int) =
        pmod(xxhash64(idc, lit(j)), lit(2000L)).cast("double") / 1000.0 - 1.0
      val base = spark.range(n).select(col("id").as("vec_id"),
        array((0 until d).map(j => comp(col("id"), j).cast("float")): _*).as("embedding"))
      val dups = spark.range(nDup).select((col("id") + n).as("vec_id"),
        array((0 until d).map(j =>
          (comp(col("id"), j) * (if (j == 0) 1.01 else 1.0)).cast("float")): _*)
          .as("embedding"))
      val all = base.unionAll(dups).localCheckpoint(true)
      val (pairs, tSem) = timed {
        Dedup.semanticNearDupPairs(all, "vec_id", "embedding",
          numCentroids = k, threshold = 0.99).localCheckpoint(true)
      }
      val nPairs = pairs.count()
      val planted = pairs.where(col("id_b") === col("id_a") + n).count()
      val maxBucket = Ivf.build(all, "vec_id", "embedding", k, 2)._1
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head().getLong(0)
      println(s"""{"metric":"semantic_dedup","vectors":${n + nDup},"centroids":$k,"pairs":$nPairs,"planted_found":$planted,"planted":$nDup,"max_bucket":$maxBucket,"sec":$tSem,"cpus":$cpus}""")
    }
    // ---- 14. incremental vs full n-gram dedup at 1.1M docs: a 100k
    // "new crawl" batch (each doc a one-token mutation of a standing
    // doc — a guaranteed J≈0.93 pair) against a 1M standing corpus.
    // Every doc opens with a 3-token boilerplate phrase from a
    // 2000-phrase pool (hot-shingle df ≈ 550 — the header/license/
    // template structure real web corpora have), so the full self-join
    // must aggregate pool·df²/2 ≈ 3.0e8 old-old candidate rows EVERY
    // run, while the incremental probe generates only
    // pool·df_new·df ≈ 5.5e7 — the ratio grows as n/(2·|new|), i.e.
    // ~50× for a 1% daily increment. Output equivalence (full
    // restricted to new-touching pairs == incremental) is require()d
    // in-run.
    section(14) {
      import graft.functions.{DedupExpr, TextAnalytics}
      val nOld = 1000000L
      val nNew = 100000L
      def phrase(idc: org.apache.spark.sql.Column) = {
        val f = pmod(xxhash64(idc, lit(100)), lit(2000L))
        concat(lit("p"), f, lit("a p"), f, lit("b p"), f, lit("c"))
      }
      def body(idc: org.apache.spark.sql.Column, mutated: Boolean) =
        array_join(transform(sequence(lit(0), lit(79)),
          j => if (mutated)
            when(j === 0, lit("mutated"))
              .otherwise(concat(lit("t"), pmod(xxhash64(idc, j), lit(50000))))
          else concat(lit("t"), pmod(xxhash64(idc, j), lit(50000)))), " ")
      val olds = spark.range(nOld).select(col("id"), lit(false).as("is_new"),
        concat(phrase(col("id")), lit(" "), body(col("id"), mutated = false))
          .as("text"))
      // text FIRST (hashed from the ORIGINAL id so doc nOld+i really is
      // a mutation of standing doc i), id shifted in a second select —
      // aliasing id in the same select would shadow the hash input via
      // lateral column resolution
      val news = spark.range(nNew).select(col("id"), lit(true).as("is_new"),
          concat(phrase(col("id")), lit(" "), body(col("id"), mutated = true))
            .as("text"))
        .select((col("id") + nOld).as("id"), col("is_new"), col("text"))
      val shingled = olds.unionAll(news).select(col("id"), col("is_new"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col("text")), 3).as("sh"))
        .localCheckpoint(true)
      val (incPairs, tInc) = timed {
        val p = Dedup.incrementalNgramPairs(shingled, col("is_new"), 0.8)
          .localCheckpoint(true)
        p.count(); p
      }
      val nInc = incPairs.count()
      val planted = incPairs.where(col("id_b") === col("id_a") + nOld).count()
      val (fullPairs, tFull) = timed {
        val p = Dedup.ngramJaccardPairsPre(shingled.select(col("id"), col("sh")), 0.8)
          .localCheckpoint(true)
        p.count(); p
      }
      val expected = fullPairs.where(col("id_a") >= nOld || col("id_b") >= nOld)
      require(expected.exceptAll(incPairs).count() == 0 &&
        incPairs.exceptAll(expected).count() == 0,
        "incremental != full-restricted-to-new-touching")
      println(s"""{"metric":"incremental_dedup","docs":${nOld + nNew},"new":$nNew,"pairs":$nInc,"planted_found":$planted,"planted":$nNew,"sec_incremental":$tInc,"sec_full":$tFull,"cpus":$cpus}""")
    }

    // ---- 15. banded-Hamming pairs (the simhash/dHash near-dup join) at
    // dictionary scale: nNames uniform 64-bit keys, every 10th id a
    // planted 1-bit mutation of its predecessor. k=1 → 2 bands of 32
    // bits, so random band collisions are ~n²/2^32 — the knob a
    // production run turns (smaller k / wider bands) as cardinality
    // grows, documented here with the measured candidate volume.
    section(15) {
      val n = nNames
      val keys = spark.range(n).select(col("id"),
          when(col("id") % 10 === 1,
            xxhash64(col("id") - 1).bitwiseXOR(lit(1L)))
            .otherwise(xxhash64(col("id"))).as("h"))
        .localCheckpoint(true)
      val plan = Dedup.hammingPairs(keys, "id", "h", maxHamming = 1)
        .queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), "hammingPairs must stay equi-join")
      val ((nPairs, planted), t) = timed {
        val p = Dedup.hammingPairs(keys, "id", "h", maxHamming = 1)
          .localCheckpoint(true)
        (p.count(), p.where(col("id_b") === col("id_a") + 1)
          .where(col("hamming") === 1).count())
      }
      println(s"""{"metric":"hamming_pairs","keys":$n,"max_hamming":1,"pairs":$nPairs,"planted_found":$planted,"planted":${(n + 8) / 10},"sec":$t,"cpus":$cpus}""")
    }

    // ---- 16. BFS frontier iteration at scale: a random ~10-out-degree
    // graph (nNames edges over nNames/5 nodes) plus a deterministic
    // 0→1→…→999 chain so hop structure exists. The frontier reaches
    // millions of vertices by hop 3 — stressing exactly the per-round
    // vertex-keyed join + min-aggregate the operator claims is its
    // scale shape (per-round cost bounded by edges touched, lineage
    // truncated every round).
    section(16) {
      val nNodes = math.max(nNames / 5, 1000L)
      val nEdges = nNames
      val rand = spark.range(nEdges).select(
        pmod(xxhash64(col("id"), lit(1L)), lit(nNodes)).as("src"),
        pmod(xxhash64(col("id"), lit(2L)), lit(nNodes)).as("dst"))
      val chain = spark.range(999).select(col("id").as("src"),
        (col("id") + 1).as("dst"))
      val edges = rand.unionAll(chain).localCheckpoint(true)
      // frontier grows ~degree^hop (~10× per hop): 7 hops saturate the
      // giant component of a 2M-node degree-10 graph
      val ((reached, byHop), t) = timed {
        val d = Graphs.bfsDistances(edges, "src", "dst", 0L, maxHops = 7)
          .localCheckpoint(true)
        (d.count(),
          d.groupBy(col("dist")).agg(count(lit(1)).as("n")).orderBy(col("dist"))
            .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(","))
      }
      require(reached > nNodes / 2,
        s"random degree-10 graph should reach most nodes in 7 hops, got $reached/$nNodes")
      println(s"""{"metric":"bfs","nodes":$nNodes,"edges":${nEdges + 999},"reached":$reached,"by_hop":"$byHop","sec":$t,"cpus":$cpus}""")
    }

    // ---- 17. link prediction + HITS on a degree-bounded random graph
    // (the k-NN regime both operators are declared for). Wedge fan-out
    // is Σ deg(z)² ≈ n·E[deg²] — bounded because degrees are, never
    // because the data is small; HITS is 4 vertex-keyed joins total.
    section(17) {
      val nNodes = math.max(nNames / 5, 1000L)
      val nEdges = nNames
      val edges = spark.range(nEdges).select(
          pmod(xxhash64(col("id"), lit(3L)), lit(nNodes)).as("src"),
          pmod(xxhash64(col("id"), lit(4L)), lit(nNodes)).as("dst"))
        .localCheckpoint(true)
      val (nPred, tLp) = timed {
        Graphs.linkPrediction(edges, "src", "dst", minCommon = 2).count()
      }
      val (nHits, tHits) = timed {
        Graphs.hits(edges, "src", "dst", iters = 2).count()
      }
      println(s"""{"metric":"link_predict","nodes":$nNodes,"edges":$nEdges,"predicted_pairs":$nPred,"sec":$tLp,"hits_rows":$nHits,"hits_sec":$tHits,"cpus":$cpus}""")
    }

    // ---- 18. stateful-streaming throughput: the rate-micro-batch
    // source (rows generated executor-side — no driver materialization)
    // mapped to Events and folded through the transformWithState
    // interval-merge processor over RocksDB state, noop sink. Reports
    // sustained rows/sec over a fixed wall window — the per-batch cost
    // of one ValueState get/update per user per batch.
    section(18) {
      import spark.implicits._
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val nUsers = 100000L
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 2000000L).load()
      val ev = src.select(
          col("value").as("event_id"),
          timestamp_micros(lit(1700000000000000L) + col("value") * 1000L)
            .as("ts"),
          pmod(col("value"), lit(nUsers)).as("user_id"),
          lit("view").as("event_type"),
          (pmod(col("value"), lit(500L)) + 1).cast("double").as("value"))
        .as[graft.streaming.Streams.Event]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-stress-stream").toString
      val q = graft.streaming.Streams.intervalMergeStream(ev)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      val windowSec = 30
      Thread.sleep(windowSec * 1000L)
      val inRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      unloadStateStores()
      println(s"""{"metric":"stream_interval_merge","users":$nUsers,"rows":$inRows,"window_sec":$windowSec,"rows_per_sec":${inRows / windowSec},"cpus":$cpus}""")
    }

    // ---- 19. corpus-frequency boilerplate removal at hot-passage skew:
    // every document opens with one of 20 shared header passages
    // (df ≈ nDocs/20 each — the hot window partitions the operator's
    // passage-keyed lag/sum windows must sort externally) followed by
    // 3 globally-unique body passages (id baked into every token). The
    // exact expected outcome (header dropped, body kept, everywhere) is
    // asserted, not sampled.
    section(19) {
      val nDocs = 2000000L
      val hdr = concat_ws(" ", (0 until 10).map(j =>
        concat(lit("h"), pmod(col("id"), lit(20L)), lit(s"w$j"))): _*)
      val body = array_join(transform(sequence(lit(0), lit(29)),
        j => concat(lit("b"), col("id"), lit("x"), j)), " ")
      val docs = spark.range(nDocs)
        .select(col("id").as("doc_id"), concat(hdr, lit(" "), body).as("text"))
        .localCheckpoint(true)
      // total shuffle-write bytes across the whole job: the evidence
      // that the hash-keyed text-free df window shrinks the skew-prone
      // exchange (the verdict rejoin still shuffles text once — the
      // reported figure is the whole job, so the window exchange's
      // saving must show through it)
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val (res: org.apache.spark.sql.Row, tBp) = timed {
        Curation.boilerplatePassages(docs, "doc_id", "text",
            passageWords = 10, minDocs = 2)
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_passages")).as("min_p"), max(col("n_passages")).as("max_p"),
            min(col("n_kept")).as("min_k"), max(col("n_kept")).as("max_k"))
          .collect()(0)
      }
      Thread.sleep(2000) // listener bus drain (async delivery)
      spark.sparkContext.removeSparkListener(listener)
      require(res.getLong(0) == nDocs && res.getLong(1) == 4 &&
        res.getLong(2) == 4 && res.getLong(3) == 3 && res.getLong(4) == 3,
        s"boilerplate expectation violated: $res")
      println(s"""{"metric":"boilerplate_passages","docs":$nDocs,"passages":${nDocs * 4},"hot_df":${nDocs / 20},"sec":$tBp,"docs_per_sec":${(nDocs / tBp).toLong},"shuffle_mb":${shuffleBytes.get / 1000000},"cpus":$cpus}""")
    }

    // ---- 20. daily exact-AUC stream at 100k open state keys: the
    // dailyAucStream state-budget probe (verdict r11 §7). 100k distinct
    // event_types on a single event day = 100k open (type, day) keys,
    // each holding two (10^scaleDp+1)-long unit arrays — the budget
    // formula in the scaladoc gives 16·101·100k·2 ≈ 323 MB at the 2 dp
    // this run declares (the DEFAULT 4 dp at the same key count would
    // be 32 GB — exactly the arithmetic the construction-time require()
    // makes the caller face). Reports sustained events/s over a fixed
    // wall window, the sibling figure to section 18's interval-merge run.
    section(20) {
      import spark.implicits._
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val nTypes = 100000L
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 2000000L).load()
      val ev = src.select(
          col("value").as("event_id"),
          timestamp_micros(lit(1700000000000000L) + pmod(col("value"), lit(1000L)))
            .as("ts"), // all rows inside one event day -> keys stay open
          pmod(col("value"), lit(7L)).as("user_id"),
          concat(lit("t"), pmod(col("value"), lit(nTypes))).as("event_type"),
          (pmod(col("value"), lit(1001L)).cast("double") / 1000.0).as("value"))
        .as[graft.streaming.Streams.Event]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-stress-auc").toString
      val q = graft.streaming.Streams.dailyAucStream(ev,
          _.user_id % 2 == 0, scaleDp = 2,
          expectedTypes = nTypes, openDaysBound = 2)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      val windowSec = 30
      Thread.sleep(windowSec * 1000L)
      val inRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      unloadStateStores()
      val stateMb = 16L * 101L * nTypes * 2L / 1000000L
      println(s"""{"metric":"stream_daily_auc","types":$nTypes,"scale_dp":2,"state_budget_mb":$stateMb,"rows":$inRows,"window_sec":$windowSec,"rows_per_sec":${inRows / windowSec},"cpus":$cpus}""")
    }

    // ---- 21. streaming MinHash-LSH self-dedup under sustained load:
    // 30-token synthetic docs, every 10th an exact duplicate of its
    // predecessor so the within-bucket pairing path runs hot (est 1.0
    // pairs keep emitting, not just state inserts). State grows with
    // the corpus by design (growing-corpus self-dedup): one
    // (8 + 8·numHashes) B signature per member per band — at the
    // defaults (32 hashes, 8 bands) ≈ 2.1 GB RocksDB per 1M standing
    // docs. Reports sustained docs/s over a fixed wall window.
    section(21) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // one RocksDB instance per shuffle partition: unbounded native
      // buffers at 32 partitions OOM the native heap under this write
      // rate (std::bad_alloc at teardown) — bound them for the probe
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "2000")
      def textOf(id: org.apache.spark.sql.Column) =
        concat_ws(" ", (0 until 30).map(j =>
          element_at(typedLit(syl),
            (pmod(xxhash64(id, lit(j)), lit(32)) + 1).cast("int"))): _*)
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100000L).load()
      val docs = src.select(col("timestamp").as("ts"),
        col("value").as("doc_id"),
        when(col("value") % 10 === 0, textOf(col("value") - 1))
          .otherwise(textOf(col("value"))).as("text"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-stress-mh").toString
      val q = graft.streaming.Streams
        .minhashNeardupStream(docs, "ts", "doc_id", "text")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      val windowSec = 30
      Thread.sleep(windowSec * 1000L)
      val inRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      unloadStateStores() // synchronous provider close — see helper scaladoc
      println(s"""{"metric":"stream_minhash_neardup","num_hashes":32,"bands":8,"dup_rate":0.1,"rows":$inRows,"window_sec":$windowSec,"rows_per_sec":${inRows / windowSec},"state_mb_per_1m_docs":${(8 + 8 * 32) * 8L},"cpus":$cpus}""")
    }

    // ---- 22. streaming embedding self-dedup under sustained load:
    // d=64 synthetic vectors, every 10th an exact duplicate of its
    // predecessor (cos 1.0 pairs keep the verify path hot). Geometry
    // (16 planes, 4 bands) — the production-threshold shape: selective
    // bands keep buckets sparse on random vectors while duplicates
    // still collide in every band. State: (16 + 4·d + 8·bands) B per
    // member per band ≈ 1.2 GB RocksDB per 1M standing vectors at d=64.
    section(22) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "2000")
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100000L).load()
      val vecs = src.select(col("timestamp").as("ts"),
        col("value").as("vec_id"),
        when(col("value") % 10 === 0, vecOf64(col("value") - 1))
          .otherwise(vecOf64(col("value"))).as("vec"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-stress-vec").toString
      val q = graft.streaming.Streams
        .embeddingNeardupStream(vecs, "ts", "vec_id", "vec",
          threshold = 0.9, planesPerBand = 16, bands = 4)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      val windowSec = 30
      Thread.sleep(windowSec * 1000L)
      val inRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      unloadStateStores() // synchronous provider close — see helper scaladoc
      println(s"""{"metric":"stream_embedding_neardup","dim":64,"planes_per_band":16,"bands":4,"dup_rate":0.1,"rows":$inRows,"window_sec":$windowSec,"rows_per_sec":${inRows / windowSec},"state_mb_per_1m_vecs":${(16 + 4 * 64 + 8 * 4) * 4L},"cpus":$cpus}""")
    }

    // ---- 23/24. self-dedup ENDURANCE, one decade past the 30 s probes
    // (sections 21/22): run each stream to a fixed PROCESSED-ROW target
    // (default 5M docs / 6M vecs — 10× the probe windows) with RocksDB
    // state-size telemetry sampled per decade of standing corpus. What
    // this adds over the probes: (a) the sustained rate at 10× standing
    // state — per-row work should still dominate, so rate must hold
    // roughly flat while state grows 10×; (b) measured state bytes per
    // standing member against the scaladoc per-member formula (the
    // 100 TB capacity-planning number, now witnessed instead of
    // derived); (c) the maxBucket guards hold across the whole decade
    // (the query would FAIL loudly on a hot bucket — asserted via
    // q.exception at the end, not assumed).
    def endurance(metric: String, targetRows: Long, perItemBytes: Long,
                  ckpt: String)(
                  start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      // native budget knob: the probes use 2 GB; the endurance attribution
      // run raises it to separate RocksDB-read cost from per-row work
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_MB", "2000"))
      val q = start()
      val t0 = System.nanoTime()
      var rows = 0L
      val decades = scala.collection.mutable.ArrayBuffer.empty[String]
      var nextSample = targetRows / 10
      // 50-60 batches at 100k rows/batch stays under the 100-entry
      // recentProgress ring, so the running sum is complete
      while (rows < targetRows && (System.nanoTime() - t0) < 3600e9 &&
             q.exception.isEmpty) {
        Thread.sleep(3000)
        rows = q.recentProgress.map(_.numInputRows).sum
        val lp = q.lastProgress
        if (rows >= nextSample && lp != null && lp.stateOperators.nonEmpty) {
          val so = lp.stateOperators(0)
          val sst = Option(so.customMetrics.get("rocksdbSstFileSize"))
            .map(_.longValue).getOrElse(-1L)
          decades += s"""{"rows":$rows,"state_rows":${so.numRowsTotal},"state_mem_bytes":${so.memoryUsedBytes},"rocksdb_sst_bytes":$sst}"""
          nextSample += targetRows / 10
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val failed = q.exception.isDefined
      val err = q.exception.map(_.getMessage.take(200)).getOrElse("")
      q.stop()
      unloadStateStores() // synchronous provider close — see helper scaladoc
      rmRecursive(new java.io.File(ckpt))
      require(!failed, s"$metric endurance: query failed (bucket guard or " +
        s"state error): $err")
      val lastSst = decades.lastOption.flatMap(s =>
        "\"rocksdb_sst_bytes\":(-?\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong))
        .getOrElse(-1L)
      // per ITEM = per standing doc/vec ACROSS all its bands (the same
      // denominator as the scaladoc formula), so the two are comparable
      val measuredPerItem = if (rows > 0 && lastSst > 0) lastSst / rows else -1L
      println(s"""{"metric":"$metric","rows":$rows,"wall_sec":${wall.toLong},"rows_per_sec":${(rows / wall).toLong},"formula_state_bytes_per_item":$perItemBytes,"measured_sst_bytes_per_item":$measuredPerItem,"guards_held":${!failed},"decades":[${decades.mkString(",")}],"cpus":$cpus}""")
    }

    section(23) {
      def textOf(id: org.apache.spark.sql.Column) =
        concat_ws(" ", (0 until 30).map(j =>
          element_at(typedLit(syl),
            (pmod(xxhash64(id, lit(j)), lit(32)) + 1).cast("int"))): _*)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-endur-mh").toString
      endurance("stream_minhash_endurance", 5000000L,
        perItemBytes = (8 + 8 * 32) * 8L, // per-member-per-band × 8 bands
        ckpt = ckpt) { () =>
        val src = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", 100000L).load()
        val docs = src.select(col("timestamp").as("ts"),
          col("value").as("doc_id"),
          when(col("value") % 10 === 0, textOf(col("value") - 1))
            .otherwise(textOf(col("value"))).as("text"))
        graft.streaming.Streams
          .minhashNeardupStream(docs, "ts", "doc_id", "text")
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt).start()
      }
    }

    section(24) {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-endur-vec").toString
      endurance("stream_embedding_endurance", 6000000L,
        perItemBytes = (16 + 4 * 64 + 8 * 4) * 4L, // per-member-per-band × 4 bands
        ckpt = ckpt) { () =>
        val src = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", 100000L).load()
        val vecs = src.select(col("timestamp").as("ts"),
          col("value").as("vec_id"),
          when(col("value") % 10 === 0, vecOf64(col("value") - 1))
            .otherwise(vecOf64(col("value"))).as("vec"))
        graft.streaming.Streams
          .embeddingNeardupStream(vecs, "ts", "vec_id", "vec",
            threshold = 0.9, planesPerBand = 16, bands = 4)
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt).start()
      }
    }

    // ---- 25. hot-bucket BOUNDARY endurance (r14 verdict §6): the
    // embedding decade of section 24 at the 6 GB budget, but with a
    // planted hot bucket — every `hotEvery`-th row is the SAME fixed
    // vector, so one bucket per band grows linearly toward the default
    // maxBucket=4096 while the rest of the corpus stays clean. Sections
    // 23/24 only ever witness the guard staying SILENT on clean
    // corpora; this run witnesses it FIRING at the exact boundary under
    // real endurance conditions (RocksDB state, micro-batch replay
    // sorting, ~5M rows of standing state) — the require() admits
    // member #4096 and kills the query on #4097, mid-decade, naming the
    // knob. Success here is the query FAILING with that message; the
    // target-row exit is the failure mode. The planted-only crossing
    // row maxBucket·hotEvery (the #4097th planted arrival, first member
    // at row 0) is an UPPER bound: the hot bucket also
    // accretes random same-signature colliders, so the guard fires
    // earlier — counted over vecOf64 (same kernel, same ids; recorded
    // in docs/THROUGHPUT.md, section 25): band 3's bucket gains 377
    // random members per 5.3M rows (~5× the uniform 2^-16 rate; the
    // discrete component grid biases some sign patterns), putting the
    // crossing at ≈5.22M — the r15 run fired at
    // rows_at_failure 5.2M, in that bucket's key exactly.
    section(25) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_MB", "6000"))
      val maxBucket = 4096
      // the fatal #4097th planted arrival (first planted member is row 0)
      // lands at row maxBucket·hotEvery = 5,734,400 < the 6M target
      val hotEvery = 1400L
      val targetRows = 6000000L
      val src = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100000L).load()
      val vecs = src.select(col("timestamp").as("ts"),
        col("value").as("vec_id"),
        when(col("value") % hotEvery === 0, vecOf64(lit(-1L)))
          .otherwise(vecOf64(col("value"))).as("vec"))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-endur-hot").toString
      val q = graft.streaming.Streams
        .embeddingNeardupStream(vecs, "ts", "vec_id", "vec",
          threshold = 0.9, planesPerBand = 16, bands = 4,
          maxBucket = maxBucket)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      val t0 = System.nanoTime()
      var rows = 0L
      while (rows < targetRows && (System.nanoTime() - t0) < 3600e9 &&
             q.exception.isEmpty) {
        Thread.sleep(3000)
        rows = q.recentProgress.map(_.numInputRows).sum
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val err = q.exception.map { e =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .take(8).flatMap(t => Option(t.getMessage)).mkString(" | ")
      }.getOrElse("")
      q.stop()
      unloadStateStores() // synchronous provider close — see helper scaladoc
      def rmRecursive(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rmRecursive)
        f.delete()
      }
      rmRecursive(new java.io.File(ckpt))
      require(err.contains(s"exceeds maxBucket=$maxBucket"),
        s"hot-bucket boundary run: guard did NOT fire — processed $rows " +
          s"rows without the maxBucket failure (exception: '${err.take(200)}')")
      // planted-only upper bound on the crossing row: the guard fires on
      // the (maxBucket+1)-th arrival, and with the first planted member
      // at row 0 that arrival is row maxBucket·hotEvery. Random colliders
      // pull the actual crossing earlier — see the section comment;
      // progress is batch-granular, so `rows` counts completed batches
      val plantedBound = maxBucket.toLong * hotEvery
      println(s"""{"metric":"stream_embedding_hot_bucket_guard","max_bucket":$maxBucket,"hot_every":$hotEvery,"planted_only_bound_row":$plantedBound,"rows_at_failure":$rows,"wall_sec":${wall.toLong},"guard_fired":true,"cpus":$cpus}""")
    }
    } finally {
      // last line of defense: even when a section throws past its
      // per-section unload, no RocksDB native thread may survive into
      // spark.stop()/JVM shutdown
      unloadStateStores()
      spark.stop()
    }
  }
}
