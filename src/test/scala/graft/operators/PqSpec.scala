package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random vector around one of `nClusters` hash-
    * derived centers (PQ needs clusterable structure; uniform-random
    * vectors have none).
    */
  private def vec(id: Long, dim: Int, nClusters: Int, noise: Double): Seq[Float] = {
    val cl = (id % nClusters).toInt
    Seq.tabulate(dim) { j =>
      val center = ((cl * 31 + j) % 7 - 3).toDouble
      val jitter = (((id * 131 + j * 17) % 101) - 50) / 50.0 * noise
      (center + jitter).toFloat
    }
  }

  private def corpus(n: Int, dim: Int = 32, nClusters: Int = 8,
                     noise: Double = 0.3) =
    (0 until n).map(i => (i.toLong, vec(i, dim, nClusters, noise)))
      .toDF("vec_id", "embedding")

  test("encode produces m-byte codes; identical vectors share codes") {
    val df = corpus(64)
    val cb = Pq.train(df, "embedding", m = 4, k = 8, sampleN = 64, iters = 5)
    cb.subDim shouldBe 8
    val codes = Pq.encode(df, "vec_id", "embedding", cb).collect()
    codes.foreach(_.getAs[Array[Byte]]("codes").length shouldBe 4)
    // ids 0 and 64-8=56 share cluster 0 but differ; ids with identical
    // inputs (same id mod everything) — encode is a pure function:
    val twice = Pq.encode(df, "vec_id", "embedding", cb).collect()
    codes.map(_.getAs[Array[Byte]]("codes").toSeq).toSeq shouldBe
      twice.map(_.getAs[Array[Byte]]("codes").toSeq).toSeq
  }

  test("ADC top-k recovers brute-force cosine neighbours on clustered data") {
    // m=16 over dim 32 → 2-d subspaces with 64 centroids each: fine
    // enough to code the within-cluster jitter, so ADC can rank inside a
    // cluster, not just between clusters (with coarse codebooks all
    // same-cluster vectors share codes and recall degrades to
    // cluster-size/k — expected PQ behavior, not a bug).
    val df = corpus(400).localCheckpoint(true)
    val cb = Pq.train(df, "embedding", m = 16, k = 64, sampleN = 400, iters = 10)
    val encoded = Pq.encode(df, "vec_id", "embedding", cb)
    val queries = df.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq

    val got = Pq.topK(encoded, cb, queries, k = 20)
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val qdf = df.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        qdf, "query_id", "qv", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // ADC@20 should recover most of exact cosine top-10 per query
    val recalls = exact.map { case (q, ex) =>
      ex.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ex.size
    }
    (recalls.sum / recalls.size) should be >= 0.7
  }

  test("topK: duplicate corpus vectors tie, k cuts the tie at the lower neighbor_ids") {
    // ids 1002, 1001, 1000 copy id 0: four identical codes, one ADC score
    val tie = Seq(0L, 1000L, 1001L, 1002L)
    val base = corpus(64)
    val dupDf = base.union(tie.reverse.init.map(id => (id, vec(0L, 32, 8, 0.3)))
      .toDF("vec_id", "embedding"))
    val cb = Pq.train(dupDf, "embedding", m = 4, k = 8, sampleN = 67, iters = 5)
    val encoded = Pq.encode(dupDf, "vec_id", "embedding", cb)
    val queries = Seq((5000L, vec(0L, 32, 8, 0.3).map(_.toDouble).toArray))
    def run(k: Int) = Pq.topK(encoded, cb, queries, k)
      .select("neighbor_id", "adc_score", "rank").as[(Long, Double, Int)].collect()
      .sortBy(_._3)
    val tied = run(67).filter(r => tie.contains(r._1))
    tied.map(_._2).distinct should have length 1
    tied.map(_._1).toSeq shouldBe tie // ranked by neighbor_id within the tie
    val cut = tied(1)._3 // k keeps two of the four tied rows
    val got = run(cut)
    got.map(_._3).toSeq shouldBe (1 to cut)
    got.map(_._1).filter(tie.contains).toSeq shouldBe tie.take(2)
  }

  test("ivfPqTopK: probed-cluster ADC matches full-scan ADC for in-cluster neighbours") {
    val df = corpus(400).localCheckpoint(true)
    val queries = df.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val got = Pq.ivfPqTopK(df, "vec_id", "embedding", queries, k = 5,
        numCentroids = 8, nprobe = 8, m = 16, kCodes = 64, sampleN = 400,
        residual = false)
      .select("query_id", "neighbor_id", "adc_score")
      .as[(Long, Long, Double)].collect()
    // with nprobe = numCentroids the probe is exhaustive, so results must
    // EQUAL the full-scan PQ top-k (same raw codebooks, same scores)
    val cb = Pq.train(df, "embedding", m = 16, k = 64, sampleN = 400)
    val full = Pq.topK(Pq.encode(df, "vec_id", "embedding", cb), cb, queries, k = 5)
      .select("query_id", "neighbor_id", "adc_score")
      .as[(Long, Long, Double)].collect()
    got.sortBy(r => (r._1, -r._3, r._2)) shouldBe full.sortBy(r => (r._1, -r._3, r._2))
  }

  test("rerankExact with a full-coverage shortlist EQUALS bruteForceTopK") {
    val df = corpus(200).localCheckpoint(true)
    val qdf = df.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // shortlist = the complete query×corpus cross product: re-rank must
    // then reproduce brute force EXACTLY (same rounded-cosine ranking
    // key, same tie-break) — the plumbing-exactness anchor
    val all = df.select(col("vec_id").as("neighbor_id"))
      .crossJoin(qdf.select(col("query_id")))
    val got = Similarity.rerankExact(all, df, "vec_id", "embedding",
        qdf, "query_id", "qv", k = 7)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        qdf, "query_id", "qv", k = 7)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    got shouldBe exact
  }

  test("rerankExact repairs ADC ranking error on an IVF-PQ shortlist") {
    val df = corpus(400).localCheckpoint(true)
    val queries = df.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val qdf = df.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // exhaustive probe + wide shortlist (4·k), then exact re-rank to k
    val shortlist = Pq.ivfPqTopK(df, "vec_id", "embedding", queries, k = 40,
      numCentroids = 8, nprobe = 8, m = 16, kCodes = 64, sampleN = 400)
    val reranked = Similarity.rerankExact(shortlist, df, "vec_id", "embedding",
        qdf, "query_id", "qv", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        qdf, "query_id", "qv", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the re-ranked stage must do at least as well as raw ADC@10 and
    // recover nearly all of the exact top-10 from the ADC@40 shortlist
    val recalls = exact.map { case (q, ex) =>
      ex.intersect(reranked.getOrElse(q, Set.empty)).size.toDouble / ex.size
    }
    (recalls.sum / recalls.size) should be >= 0.9
  }

  test("residual IVF-PQ: tighter cosine approximation than raw codebooks at equal budget") {
    val df = corpus(400).localCheckpoint(true)
    val queries = df.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    // exact cosine scores as ground truth (self-match ≈ 1.0 at rank 1)
    def run(res: Boolean) = Pq.ivfPqTopK(df, "vec_id", "embedding", queries,
        k = 5, numCentroids = 8, nprobe = 8, m = 16, kCodes = 16, sampleN = 400,
        residual = res)
      .select("query_id", "neighbor_id", "adc_score", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val res = run(true)
    val raw = run(false)
    // ADC is an approximation of the true cosine; residual encoding must
    // approximate it more tightly than raw codebooks of the same (small,
    // k=16) budget across every returned pair — the point of residuals
    val vecs = df.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val qmap = queries.toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    def meanErr(rows: Array[(Long, Long, Double, Int)]) =
      rows.map { case (q, n, s, _) => math.abs(s - cosine(qmap(q), vecs(n))) }
        .sum / rows.length
    meanErr(res) should be < meanErr(raw)
    meanErr(res) should be < 0.05
  }

  test("ivfPqTopK plan: probe pair table broadcast, no shuffle of the code table beyond the build") {
    val df = corpus(64)
    val queries = Seq((0L, Array.fill(32)(1.0)))
    val plan = Pq.ivfPqTopK(df, "vec_id", "embedding", queries, k = 3,
        numCentroids = 4, nprobe = 2, m = 4, kCodes = 8, sampleN = 64)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("WindowGroupLimit")
  }

  test("topK plan: one corpus scan, no join, window pruned to k") {
    val df = corpus(64)
    val cb = Pq.train(df, "embedding", m = 4, k = 8, sampleN = 64, iters = 3)
    val encoded = Pq.encode(df, "vec_id", "embedding", cb)
    val qs = Seq((0L, Array.fill(32)(1.0)), (1L, Array.fill(32)(-1.0)))
    val plan = Pq.topK(encoded, cb, qs, k = 3).queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should include("WindowGroupLimit")
  }

  test("ivfPqTopK accepts array<double> vector columns") {
    val df = corpus(64).withColumn("embedding", col("embedding").cast("array<double>"))
    val qs = Seq((0L, Array.tabulate(32)(j => math.cos(j.toDouble))))
    val got = Pq.ivfPqTopK(df, "vec_id", "embedding", qs, k = 3,
      numCentroids = 4, nprobe = 2, m = 4, kCodes = 16, sampleN = 64).collect()
    got.length shouldBe 3
  }

  test("train pads codebooks to full k when the sample is smaller than k") {
    // 10 rows, k=64: every subspace trains fewer than k centroids but the
    // flattened array must still be k·subDim so encode/lut loops stay in
    // bounds at query time
    val df = corpus(10)
    val cb = Pq.train(df, "embedding", m = 4, k = 64, sampleN = 10, iters = 3)
    cb.k shouldBe 64
    cb.cents.foreach(_.length shouldBe 64 * cb.subDim)
    val qs = Seq((0L, Array.tabulate(32)(j => math.sin(j.toDouble))))
    val got = Pq.topK(Pq.encode(df, "vec_id", "embedding", cb), cb, qs, k = 3).collect()
    got.length shouldBe 3
  }

  test("train dedups init points by value, not reference") {
    // every row is the SAME vector value in fresh arrays: value-distinct
    // count is 1, so training must degrade to one real centroid (padded)
    // rather than seed k duplicate centroids from reference-distinct arrays
    val one = (0 until 16).map(i => (i.toLong, Seq.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val cb = Pq.train(one, "embedding", m = 2, k = 8, sampleN = 16, iters = 2)
    cb.cents.foreach(_.length shouldBe 8 * cb.subDim)
    // all padded slots equal the single trained centroid
    cb.cents.foreach { flat =>
      val first = flat.slice(0, cb.subDim).toSeq
      (1 until cb.k).foreach { c =>
        flat.slice(c * cb.subDim, (c + 1) * cb.subDim).toSeq shouldBe first
      }
    }
    Pq.encode(one, "vec_id", "embedding", cb).collect().length shouldBe 16
  }
}
