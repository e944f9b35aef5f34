package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SqSpec extends SparkSpec {
  import spark.implicits._

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  private val rnd = new scala.util.Random(19)
  private val dim = 16
  private lazy val corpus =
    (0L until 300L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
  private lazy val corpusDf = corpus.toDF("vec_id", "embedding")

  test("train bounds cover the normalized corpus; encode stays on the grid") {
    val b = Sq.train(corpusDf, "embedding")
    b.mins.length shouldBe dim
    // decoded value of every code must sit within half a grid step of
    // the original normalized coordinate: |x̂ - x| ≤ Δ/510 (rint encode)
    val codes = Sq.encode(corpusDf, "vec_id", "embedding", b)
      .as[(Long, Array[Byte])].collect().toMap
    corpus.foreach { case (id, v) =>
      val x = normalized(v)
      val cs = codes(id)
      var i = 0
      while (i < dim) {
        val dec = b.mins(i) + (cs(i) & 0xFF) / 255.0 * b.deltas(i)
        math.abs(dec - x(i)) should be <= (b.deltas(i) / 510.0 + 1e-12)
        i += 1
      }
    }
  }

  test("sq8 score equals the exact dot of the query with the decoded grid point") {
    val b = Sq.train(corpusDf, "embedding")
    val queries = corpus.take(3).map { case (id, v) => (id + 1000L, v) }
    val got = Sq.topK(Sq.encode(corpusDf, "vec_id", "embedding", b), b,
        queries, k = 300, roundTo = 9)
      .select("query_id", "neighbor_id", "sq_score")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val codes = Sq.encode(corpusDf, "vec_id", "embedding", b)
      .as[(Long, Array[Byte])].collect().toMap
    for ((qid, qv) <- queries; (nid, _) <- corpus) {
      val qn = normalized(qv)
      val cs = codes(nid)
      val expect = (0 until dim).map(i =>
        qn(i) * (b.mins(i) + (cs(i) & 0xFF) / 255.0 * b.deltas(i))).sum
      got((qid, nid)) shouldBe (expect +- 1e-6)
    }
  }

  test("sq8 top-k recall vs exact cosine is near-perfect at d=16") {
    val b = Sq.train(corpusDf, "embedding")
    val queries = corpus.take(10).map { case (id, v) => (id + 1000L, v) }
    val k = 5
    val got = Sq.topK(Sq.encode(corpusDf, "vec_id", "embedding", b), b, queries, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def cos(a: Array[Double], bb: Array[Double]): Double = {
      val na = normalized(a); val nb = normalized(bb)
      na.zip(nb).map { case (x, y) => x * y }.sum
    }
    val recalls = queries.map { case (qid, qv) =>
      val exact = corpus.map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
      got(qid).intersect(exact).size.toDouble / k
    }
    (recalls.sum / recalls.length) should be >= 0.9
  }

  test("topK: duplicate corpus vectors tie, k cuts the tie at the lower neighbor_ids") {
    // ids 1002, 1001, 1000 copy id 0: four identical codes, one score
    val tie = Seq(0L, 1000L, 1001L, 1002L)
    val dupDf = (corpus ++ tie.reverse.init.map(id => (id, corpus.head._2)))
      .toDF("vec_id", "embedding")
    val b = Sq.train(dupDf, "embedding")
    val encoded = Sq.encode(dupDf, "vec_id", "embedding", b)
    val queries = Seq((5000L, corpus.head._2))
    def run(k: Int) = Sq.topK(encoded, b, queries, k)
      .select("neighbor_id", "sq_score", "rank").as[(Long, Double, Int)].collect()
      .sortBy(_._3)
    val tied = run(corpus.length + 3).filter(r => tie.contains(r._1))
    tied.map(_._2).distinct should have length 1
    tied.map(_._1).toSeq shouldBe tie // ranked by neighbor_id within the tie
    val cut = tied(1)._3 // k keeps two of the four tied rows
    val got = run(cut)
    got.map(_._3).toSeq shouldBe (1 to cut)
    got.map(_._1).filter(tie.contains).toSeq shouldBe tie.take(2)
  }

  test("topK plan: map-only scoring, WindowGroupLimit prunes the per-query sort") {
    val b = Sq.train(corpusDf, "embedding")
    val plan = Sq.topK(Sq.encode(corpusDf, "vec_id", "embedding", b), b,
        Seq((1000L, corpus.head._2)), k = 5)
      .queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("ragged or wrong-dimension input fails loudly") {
    val b = Sq.train(corpusDf, "embedding")
    val bad = Seq((1L, Array.fill(dim + 1)(0.5))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Sq.encode(bad, "vec_id", "embedding", b).collect()
    }
    e.getMessage should include("sq8_encode requires vectors of length")
  }
}
