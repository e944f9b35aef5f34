package graft

import org.apache.spark.sql.functions._
import graft.operators.{Baskets, Bpe, Bq, Pq, Sampling, Similarity, Sq, Stats}

/** Runtime cap guards on driver-side bounded state: every knob that
  * gates a driver collect must fail LOUDLY, naming itself, when set
  * past its documented bound — never OOM the driver. One test per
  * public guard (the private ones — clustersDriver's edge re-assert,
  * the PNG/WAV fixture doc cap — sit behind branches their callers
  * already bound, and carry the same require() discipline).
  */
class GuardSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")

  test("Bpe.encodeCorpus rejects a vocabCap past MaxVocabCap, naming the knob") {
    val e = intercept[IllegalArgumentException] {
      Bpe.encodeCorpus(docs, "doc_id", "text",
        numMerges = 4, vocabCap = Bpe.MaxVocabCap + 1)
    }
    e.getMessage should include("vocabCap")
    e.getMessage should include("MaxVocabCap")
  }

  test("Pq.train rejects a sampleN past MaxTrainSample, naming the knob") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Pq.train(vecs, "v", m = 2, k = 2, sampleN = Pq.MaxTrainSample + 1)
    }
    e.getMessage should include("sampleN")
    e.getMessage should include("MaxTrainSample")
  }

  test("weightedSample refuses an input that already has a 'score' column") {
    val withScore = docs.withColumn("score", lit(0.5))
    val e = intercept[IllegalArgumentException] {
      Sampling.weightedSample(withScore, col("doc_id"), col("doc_id"),
        lit(1.0), k = 1)
    }
    e.getMessage should include("score")
  }

  test("Sq.topK rejects a query list past MaxQueries, naming the knob") {
    // one cap, Similarity.MaxQueries, guards every query-list consumer;
    // the PQ pair embeds Q×m×k LUT doubles as plan literals
    val queries = (0 to Similarity.MaxQueries).map(i => (i.toLong, Array(1.0, 0.0)))
    val b = Sq.Bounds(Array(-1.0, -1.0), Array(2.0, 2.0))
    val cb = Pq.Codebooks(m = 1, k = 1, subDim = 2, cents = Array(Array(1.0, 0.0)))
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
    val consumers: Seq[(String, () => Any)] = Seq(
      "Sq.topK" -> (() => Sq.topK(Seq((1L, Array[Byte](0, 0))).toDF("id", "codes"),
        b, queries, k = 1)),
      "Pq.topK" -> (() => Pq.topK(Seq((1L, Array[Byte](0))).toDF("id", "codes"),
        cb, queries, k = 1)),
      "Pq.ivfPqTopK" -> (() => Pq.ivfPqTopK(vecs, "id", "v", queries, k = 1,
        numCentroids = 1, nprobe = 1, m = 1, kCodes = 1, sampleN = 2)),
      "Bq.shortlist" -> (() => Bq.shortlist(Bq.encode(vecs, "id", "v"), queries, r = 1)))
    consumers.foreach { case (name, run) =>
      withClue(s"$name: ") {
        val e = intercept[IllegalArgumentException](run())
        e.getMessage should include("MaxQueries")
        e.getMessage should include("driver-side")
      }
    }
  }

  test("bq_hamming fails loudly on a ragged corpus row, naming both widths") {
    // 64-dim row packs to 1 word, 128-dim row to 2; a 128-dim query must
    // refuse the 1-word row instead of reading past its end.
    val corpus = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.fill(128)(1.0f))).toDF("id", "v")
    val q = Seq((10L, Array.fill(128)(1.0)))
    val e = intercept[Exception] {
      Bq.shortlist(Bq.encode(corpus, "id", "v"), q, r = 1).collect()
    }
    e.getMessage should include("2 words")
    e.getMessage should include("got 1")
  }

  test("histogram excludes NULLs in both the normal and degenerate branches") {
    // normal branch: nulls used to form a separate NULL bucket group
    val mixed = Seq(Some(0.0), Some(10.0), None).toDF("v")
    Stats.histogram(mixed, col("v"), 2).orderBy("bucket")
      .as[(Long, Long)].collect() shouldBe Array((0L, 1L), (1L, 1L))
    // degenerate min==max branch: nulls used to land in bin 0
    val const = Seq(Some(7.0), Some(7.0), None).toDF("v")
    Stats.histogram(const, col("v"), 5)
      .as[(Long, Long)].collect() shouldBe Array((0L, 2L))
  }

  test("cooccurrence rejects a giant basket past maxBasketCheck, naming the knob") {
    // one pathological basket of 12 distinct items: the self-join would
    // fan out |basket|^2 with no warning — the guard must fail before it
    val rows = (0 until 12).map(i => (1L, i.toLong)) :+ ((2L, 1L))
    val df = rows.toDF("basket", "item")
    val e = intercept[IllegalArgumentException] {
      Baskets.cooccurrence(df, col("basket"), col("item"),
        minCount = 1, maxBasketCheck = 10)
    }
    e.getMessage should include("maxBasketCheck")
    e.getMessage should include("max basket size 12")
    // knob <= 0 skips the guard; the tiny basket result is still exact
    Baskets.cooccurrence(df, col("basket"), col("item"),
      minCount = 12, maxBasketCheck = 0).count() shouldBe 0L
  }
}
