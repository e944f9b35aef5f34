package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BqSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(23)
  private val dim = 70 // deliberately straddles a word boundary (> 64)
  private lazy val corpus =
    (0L until 300L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
  private lazy val corpusDf = corpus.toDF("vec_id", "embedding")
  private lazy val queriesDf = corpusDf.where(col("vec_id") < 8)
    .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val na = normalized(a); val nb = normalized(b)
    na.zip(nb).map { case (x, y) => x * y }.sum
  }

  test("encode packs exactly the strictly-positive sign bits") {
    val v = Array.tabulate(dim)(i => if (i % 3 == 0) -1.0 else if (i % 3 == 1) 0.0 else 1.0)
    val words = Bq.encode(Seq((0L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .select("codes").as[Array[Long]].head()
    words.length shouldBe 2 // ceil(70/64)
    for (i <- 0 until dim) {
      val bit = (words(i >>> 6) >>> (i & 63)) & 1L
      bit shouldBe (if (v(i) > 0.0) 1L else 0L)
    }
    // driver-side pack is the same contract
    Bq.packSigns(v) shouldBe words
  }

  test("shortlist hamming equals the per-dimension sign-disagreement count") {
    val queries = corpus.take(4)
    val got = Bq.shortlist(Bq.encode(corpusDf, "vec_id", "embedding"),
        queries, r = 300)
      .select("query_id", "neighbor_id", "hamming")
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((qid, qv) <- queries; (nid, nv) <- corpus.take(40)) {
      val expect = (0 until dim).count(i => (qv(i) > 0.0) != (nv(i) > 0.0))
      got((qid, nid)) shouldBe expect
    }
  }

  test("full-coverage shortlist makes topK equal brute force exactly") {
    val brute = Similarity.bruteForceTopK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bq = Bq.topK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5, r = 300)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    bq shouldBe brute
  }

  test("topK: duplicate corpus vectors tie, k cuts the tie at the lower neighbor_ids") {
    // ids 1002, 1001, 1000 copy query 0: Hamming 0 and cosine 1.0 for all
    // three, self excluded, and k = 2 cuts through the tie
    val dupDf = (corpus ++ Seq(1002L, 1001L, 1000L).map(id => (id, corpus.head._2)))
      .toDF("vec_id", "embedding")
    val got = Bq.topK(dupDf, "vec_id", "embedding",
        queriesDf.where(col("query_id") === 0L), "query_id", "qv", k = 2, r = 50)
      .select("neighbor_id", "cos_sim", "rank").as[(Long, Double, Int)].collect()
      .sortBy(_._3)
    got.map(_._1) shouldBe Array(1000L, 1001L)
    got.map(_._2) shouldBe Array(1.0, 1.0)
    got.map(_._3) shouldBe Array(1, 2)
  }

  test("hamming shortlist at r=50 recovers most of the exact top-5") {
    val got = Bq.topK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5, r = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = corpus.take(8).map { case (qid, qv) =>
      val exact = corpus.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      got(qid).intersect(exact).size.toDouble / 5
    }
    (recalls.sum / recalls.length) should be >= 0.7
  }

  test("r == k returns k neighbors for an in-corpus query (self slot is paid for)") {
    // the shortlist keeps r+1 candidates, so dropping the Hamming-0
    // self-match still leaves r >= k survivors for the re-rank
    val got = Bq.topK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5, r = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    queriesDf.select("query_id").as[Long].collect().foreach { qid =>
      got(qid).length shouldBe 5
      got(qid) should not contain qid // self stays dropped
    }
  }

  test("r = Int.MaxValue (scaladoc brute-force mode) does not overflow the +1") {
    // r + 1 would wrap to Int.MinValue and the rank filter would return
    // an empty frame; the guarded increment keeps this equal to brute force.
    val brute = Similarity.bruteForceTopK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bq = Bq.topK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5, r = Int.MaxValue)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    bq shouldBe brute
  }

  test("plan: fused scoring scan, WindowGroupLimit shortlist, no BNLJ") {
    val plan = Bq.topK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 5, r = 50)
      .queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("query cap and r<k fail loudly") {
    intercept[IllegalArgumentException] {
      Bq.topK(corpusDf, "vec_id", "embedding",
        queriesDf, "query_id", "qv", k = 10, r = 5)
    }.getMessage should include("must be >= k")
    intercept[IllegalArgumentException] {
      Bq.shortlist(Bq.encode(corpusDf, "vec_id", "embedding"),
        Seq.empty, r = 5)
    }.getMessage should include("empty query list")
  }
}
