package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Funnel, Graphs, Packing, Retrieval}

/** Scale harness for the round-4 pipeline operators: k-NN graph build
  * (LSH path, sampled-exact recall), PageRank iterations, conversion
  * funnel, epoch-shuffle global rank, and BM25 — all on synthetic data
  * sized far past the sf dirs (the declared queries verify correctness;
  * this measures the scale shape).
  *
  *   SPARK_DRIVER_MEM=64g sbt "runMain graft.tools.PipelineBench [nVec] [nEvents] [nDocs]"
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val nVec = if (args.length > 0) args(0).toLong else 1000000L
    val nEvents = if (args.length > 1) args(1).toLong else 50000000L
    val nDocs = if (args.length > 2) args(2).toLong else 1000000L
    val cpus = ToolSession.cpus
    val spark = ToolSession()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- k-NN graph: LSH build over the corpus + sampled-exact recall.
    // Clustered corpus (50 vectors per planted center + 5% noise): a
    // uniform random corpus has no true neighbors, which makes a k-NN
    // benchmark meaningless — and band selectivity matters: with p
    // planes per band the corpus spreads over ≤2^p buckets per band, so
    // p must keep N/2^p small or the bucket join goes quadratic on
    // RANDOM collisions (at 1M, p=12 ⇒ ~244 vectors/bucket ⇒ ~2B
    // candidate pairs; p=20 ⇒ ~1/bucket while cluster mates still
    // collide in ≥1 of the 12 bands w.p. ≈1).
    val nCenters = (nVec / 50).max(1L)
    def hvec(idCol: org.apache.spark.sql.Column, salt: Int) =
      transform(sequence(lit(0), lit(63)), i =>
        pmod(xxhash64(idCol, i + salt), lit(1000)).cast("double") / 500.0 - 1.0)
    val corpus = spark.range(nVec)
      .select(col("id").as("vec_id"),
        zip_with(hvec(col("id") % nCenters, 0), hvec(col("id"), 1000),
          (c, e) => (c + e * 0.05).cast("float")).as("embedding"))
      .localCheckpoint(true)
    val (lshGraph, tLsh) = timed {
      val g = Retrieval.knnGraphFromPairs(
        Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
          threshold = 0.6, planesPerBand = 20, bands = 12), k = 3)
        .localCheckpoint(true)
      g.count(); g
    }
    // exact top-3 for 50 sampled sources (brute force 50 × corpus — the
    // affordable exact slice; full exact is O(n²) by definition)
    val sampleStride = (nVec / 50).max(1L) // guard small smoke runs (nVec < 50)
    val sample = corpus.where(col("vec_id") % sampleStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = graft.operators.Similarity.bruteForceTopK(corpus, "vec_id",
        "embedding", sample, "query_id", "qv", k = 4)
      .where(col("neighbor_id") =!= col("query_id")) // drop self-match
      .where(col("rank") <= 4)
    val exactSet = exact.select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).take(3).toSet }
    val lshSet = lshGraph.join(
        sample.select(col("query_id").as("src")).hint("broadcast"), Seq("src"))
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val (hit, tot) = exactSet.foldLeft((0, 0)) { case ((h, t), (q, ex)) =>
      (h + ex.intersect(lshSet.getOrElse(q, Set.empty)).size, t + ex.size)
    }
    println(s"""{"metric":"knn_graph_lsh","vectors":$nVec,"k":3,"build_sec":$tLsh,"sampled_recall":${hit.toDouble / tot},"cpus":$cpus}""")

    // ---- PageRank: 5 iterations over the LSH-built similarity graph
    val (_, tPr) = timed {
      Graphs.pageRank(lshGraph, "src", "dst", iters = 5)
        .agg(sum(col("pr"))).head()
    }
    println(s"""{"metric":"pagerank","edges":${lshGraph.count()},"iters":5,"sec":$tPr,"cpus":$cpus}""")

    // ---- funnel over synthetic events (hash-derived types/timestamps)
    val events = spark.range(nEvents).select(
        (col("id") % (nEvents / 100)).as("user_id"),
        timestamp_seconds(lit(1700000000L) + pmod(xxhash64(col("id")), lit(86400 * 30))).as("ts"),
        element_at(typedLit(Seq("view", "click", "purchase", "other")),
          (pmod(xxhash64(col("id"), lit(1)), lit(4)) + 1).cast("int")).as("event_type"))
      .localCheckpoint(true)
    val (fr, tFun) = timed {
      Funnel.funnel(events, "user_id", "ts", "event_type",
        Seq(Funnel.Step("view"), Funnel.Step("click", Some(3600L)),
          Funnel.Step("purchase", Some(86400L)))).collect()
    }
    println(s"""{"metric":"funnel","events":$nEvents,"steps":${fr.length},"sec":$tFun,"converted":${fr.map(_.getLong(2)).mkString("[", ",", "]")},"cpus":$cpus}""")

    // ---- epoch shuffle: two-level global rank by salted hash
    val (_, tShuf) = timed {
      Packing.globalOrderIndex(
          spark.range(nEvents).select(col("id"),
            md5(concat(col("id").cast("string"), lit(":ep1")).cast("binary")).as("k")),
          substring(col("k"), 1, 2), Seq(col("k"), col("id")))
        .agg(sum(col("rank"))).head()
    }
    println(s"""{"metric":"shuffle_rank","rows":$nEvents,"sec":$tShuf,"cpus":$cpus}""")

    // ---- BM25 over synthetic docs (24-token docs from a 64-word vocab)
    val vocab = (0 until 64).map(i => s"w$i")
    val docs = spark.range(nDocs).select(col("id"),
        concat_ws(" ", (0 until 24).map(j =>
          element_at(typedLit(vocab),
            (pmod(xxhash64(col("id"), lit(j)), lit(64)) + 1).cast("int"))): _*).as("text"))
      .localCheckpoint(true)
    val (_, tBm) = timed {
      Retrieval.bm25(docs, "id", "text", Seq("w7", "w11", "w42"))
        .agg(sum(col("score"))).head()
    }
    println(s"""{"metric":"bm25","docs":$nDocs,"sec":$tBm,"cpus":$cpus}""")

    // ---- Count-Min over the exploded token stream (d=4, w=16384):
    // state is 4×16384 longs per partial aggregate regardless of stream
    // length; the shuffle carries only merged count matrices
    val nToks = nEvents // reuse the big-row knob as the token count
    val (cms, tCms) = timed {
      spark.range(nToks).select(
          concat(lit("w"), pmod(xxhash64(col("id")), lit(5000)).cast("string")).as("tok"))
        .agg(graft.operators.CountMin.countMin(col("tok"), 4, 16384))
        .head().getSeq[Long](0).toArray
    }
    val probed = (0 until 50).map(i => s"w$i")
    val truth = spark.range(nToks).select(
        concat(lit("w"), pmod(xxhash64(col("id")), lit(5000)).cast("string")).as("tok"))
      .where(col("tok").isin(probed: _*))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val excess = probed.map { t =>
      val e = graft.operators.CountMin.estimate(cms, 16384, t) - truth(t)
      require(e >= 0, s"CMS undercounted $t") // structurally impossible
      e.toDouble / truth(t)
    }
    println(s"""{"metric":"cms","tokens":$nToks,"d":4,"w":16384,"sec":$tCms,"mean_excess_frac":${excess.sum / excess.size},"cpus":$cpus}""")
    spark.stop()
  }
}
