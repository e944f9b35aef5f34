package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}

/** Similarity-search scale harness: N pseudorandom 64-d vectors, 50
  * query vectors planted as tiny perturbations of known corpus rows,
  * then (a) exact brute-force top-k (broadcast queries + kernel cosine)
  * and (b) IVF top-k — reporting wall time and recall@1 of the planted
  * neighbour.
  *
  *   sbt "runMain graft.tools.SimBench [nVectors]"
  */
object SimBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val nq = 50
    val cpus = ToolSession.cpus
    val spark = ToolSession()

    def vec(idCol: org.apache.spark.sql.Column, bump: Boolean) =
      transform(sequence(lit(0), lit(63)), i => {
        val base = (pmod(xxhash64(idCol, i), lit(1000)).cast("double") / 500.0 - 1.0)
        (if (bump) base + 0.01 else base).cast("float")
      })
    val corpus = spark.range(n)
      .select(col("id").as("vec_id"), vec(col("id"), bump = false).as("embedding"))
      .localCheckpoint(true)
    // query q (id offset past the corpus so self-exclusion never fires)
    // looks for planted neighbour q*17, whose perturbed copy it is
    val queries = spark.range(nq)
      .select((col("id") * 17 + n).as("query_id"), vec(col("id") * 17, bump = true).as("qv"))
      .localCheckpoint(true)

    val t0 = System.nanoTime()
    val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "qv", k = 1)
    val bfTop = bf.where(col("neighbor_id") === col("query_id") - n).count()
    val t1 = System.nanoTime()
    val ivf = Ivf.topK(corpus, "vec_id", "embedding", queries, "query_id", "qv",
      k = 1, numCentroids = 64, nprobe = 8)
    val ivfHits = ivf.where(col("neighbor_id") === col("query_id") - n).count()
    val t2 = System.nanoTime()
    println(s"""{"metric":"similarity_topk","vectors":$n,"queries":$nq,"bf_sec":${(t1 - t0) / 1e9},"bf_top1":$bfTop,"ivf_sec":${(t2 - t1) / 1e9},"ivf_top1":$ivfHits,"cpus":$cpus}""")

    // PQ/ADC: m=16 byte codes per 64-d vector (16× compression); train
    // on a 10k driver sample, encode map-only, answer all 50 queries in
    // ONE scan of the code table.
    val t3 = System.nanoTime()
    val cb = graft.operators.Pq.train(corpus, "embedding", m = 16, k = 256,
      sampleN = 10000, iters = 10)
    val t4 = System.nanoTime()
    val encoded = graft.operators.Pq.encode(corpus, "vec_id", "embedding", cb)
      .localCheckpoint(true)
    encoded.count()
    val t5 = System.nanoTime()
    val qSeq = Similarity.queryList(queries, "query_id", "qv")
    val pq = graft.operators.Pq.topK(encoded, cb, qSeq, k = 1)
    val pqHits = pq.where(col("neighbor_id") === col("query_id") - n).count()
    val t6 = System.nanoTime()
    println(s"""{"metric":"pq_topk","vectors":$n,"queries":$nq,"train_sec":${(t4 - t3) / 1e9},"encode_sec":${(t5 - t4) / 1e9},"query_sec":${(t6 - t5) / 1e9},"pq_top1":$pqHits,"cpus":$cpus}""")

    // IVF-PQ: coarse-probe nprobe/numCentroids of the corpus, ADC inside
    // — both codebook modes, same budget: raw vs IVF-residual encoding
    for (residual <- Seq(false, true)) {
      val t7 = System.nanoTime()
      val ivfpq = graft.operators.Pq.ivfPqTopK(corpus, "vec_id", "embedding",
        qSeq, k = 1, numCentroids = 64, nprobe = 8, m = 16, kCodes = 256,
        sampleN = 10000, residual = residual)
      val ivfpqHits = ivfpq.where(col("neighbor_id") === col("query_id") - n).count()
      val t8 = System.nanoTime()
      println(s"""{"metric":"ivfpq_topk","residual":$residual,"vectors":$n,"queries":$nq,"sec":${(t8 - t7) / 1e9},"ivfpq_top1":$ivfpqHits,"cpus":$cpus}""")
    }
    spark.stop()
  }
}
