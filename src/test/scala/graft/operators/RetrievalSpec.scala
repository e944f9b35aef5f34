package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("bm25 matches a hand-computed tiny corpus") {
    // corpus: d1 = "x x y", d2 = "x z", d3 = "y y"; query = {x}
    // N=3, df(x)=2, avgdl = (3+2+2)/3; idf = ln(1 + (3-2+0.5)/(2+0.5))
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y")).toDF("id", "text")
    val got = Retrieval.bm25(docs, "id", "text", Seq("x"))
      .as[(Long, Double)].collect().toMap
    val idf = math.log(1.0 + 1.5 / 2.5)
    val avgdl = 7.0 / 3.0
    def s(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + (dl / avgdl * 0.75 + 0.25) * 1.2)
    got.keySet shouldBe Set(1L, 2L)
    got(1L) shouldBe s(2.0, 3.0) +- 1e-12
    got(2L) shouldBe s(1.0, 2.0) +- 1e-12
  }

  test("hardNegatives: nearest different-label vectors only, self excluded") {
    // query 0 (label A) at (1,0); same-label 1 at (0.9,0.1) must NOT
    // appear; different-label 2 at (0.8,0.2) and 3 at (0,1) must rank in
    // cosine order; 4 shares label A and is excluded despite proximity
    val vecs = Seq(
      (0L, Seq(1f, 0f), "A"),
      (1L, Seq(0.9f, 0.1f), "A"),
      (2L, Seq(0.8f, 0.2f), "B"),
      (3L, Seq(0f, 1f), "B"),
      (4L, Seq(1f, 0.01f), "A")).toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val got = Retrieval.hardNegatives(vecs, "vec_id", "embedding", "label",
        queries, "query_id", "qv", "qlabel", k = 5)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    got.map(_._1).toSeq shouldBe Seq(2L, 3L) // only B-labeled, cosine desc
  }

  test("knnGraph: oversized input fails loudly naming the cap knob") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)),
      (3L, Seq(0.5f, 0.5f)), (4L, Seq(0.2f, 0.9f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Retrieval.knnGraph(vecs, "vec_id", "embedding", k = 2, maxExactRows = 3L)
    }
    e.getMessage should include("maxExactRows")
    e.getMessage should include("knnGraphFromPairs")
    // under the cap the anchor still runs
    Retrieval.knnGraph(vecs, "vec_id", "embedding", k = 2).count() shouldBe 10L
  }

  test("labelConfusion: top-k neighbor labels counted per query label") {
    // query 0 (A) at (1,0): top-3 by cosine are 4:A(1,.01), 1:A(.9,.1),
    // 2:B(.8,.2) -> (A,A)=2, (A,B)=1
    val vecs = Seq(
      (0L, Seq(1f, 0f), "A"),
      (1L, Seq(0.9f, 0.1f), "A"),
      (2L, Seq(0.8f, 0.2f), "B"),
      (3L, Seq(0f, 1f), "B"),
      (4L, Seq(1f, 0.01f), "A")).toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val got = Retrieval.labelConfusion(vecs, "vec_id", "embedding", "label",
        queries, "query_id", "qv", "qlabel", k = 3)
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    got shouldBe Map(("A", "A") -> 2L, ("A", "B") -> 1L)
  }

  test("retrievalEval: hand-computed RR/precision/recall/nDCG at k=3") {
    // query 0 (label A) at (1,0); ranking by cosine: 1:A(.9,.1) >
    // 2:B(.8,.2) > 3:A(0,1) > 4:B(-1,0). top-3 rel pattern = 1,0,1:
    // hits=2, first=1 -> rr=1; n_rel=2 (ids 1,3) -> neff=min(3,2)=2,
    // recall=1; precision=2/3; dcg=1/log2(2)+1/log2(4)=1.5,
    // idcg=1/log2(2)+1/log2(3)
    val vecs = Seq(
      (0L, Seq(1f, 0f), "A"),
      (1L, Seq(0.9f, 0.1f), "A"),
      (2L, Seq(0.8f, 0.2f), "B"),
      (3L, Seq(0f, 1f), "A"),
      (4L, Seq(-1f, 0f), "B")).toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val got = Retrieval.retrievalEval(vecs, "vec_id", "embedding", "label",
        queries, "query_id", "qv", "qlabel", k = 3)
      .select("hits", "n_rel", "rr", "precision_k", "recall_k", "ndcg_k")
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    got.length shouldBe 1
    val (hits, nRel, rr, p, r, ndcg) = got.head
    hits shouldBe 2L
    nRel shouldBe 2L
    rr shouldBe 1.0
    p shouldBe BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    r shouldBe 1.0
    val idcg = 1.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    ndcg shouldBe BigDecimal(1.5 / idcg).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("collocations scores PMI from bigram-table marginals, hand-computed") {
    // corpus bigrams: (a b) x3 [from "a b a b a b" -> ab,ba,ab... let's
    // use explicit docs], (c d) x2, (a d) x1 -> N=6 after the layout below
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a b"),
      (4L, "c d"), (5L, "c d"), (6L, "a d")).toDF("id", "text")
    val got = Retrieval.collocations(docs, "text", minCount = 2)
      .select("a", "b", "cab", "pmi")
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    // marginals: ca(a)=4, ca(c)=2; cb(b)=3, cb(d)=3; N=6
    got.keySet shouldBe Set(("a", "b"), ("c", "d"))
    got(("a", "b"))._1 shouldBe 3L
    got(("a", "b"))._2 shouldBe math.log(3.0 * 6 / (4.0 * 3)) +- 1e-12
    got(("c", "d"))._1 shouldBe 2L
    got(("c", "d"))._2 shouldBe math.log(2.0 * 6 / (2.0 * 3)) +- 1e-12
  }

  test("tfidf matches a hand-computed tiny corpus; topK prunes per doc") {
    // d1 = "x x y", d2 = "x z", d3 = "y y"; N=3
    // df(x)=2, df(y)=2, df(z)=1; idf(t) = ln(4/(1+df)) + 1
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y")).toDF("id", "text")
    val got = Retrieval.tfidf(docs, "id", "text")
      .as[(Long, String, Double)].collect()
      .map { case (id, t, w) => (id, t) -> w }.toMap
    def idf(df: Double) = math.log(4.0 / (1.0 + df)) + 1.0
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got((1L, "x")) shouldBe r6(2.0 * idf(2))
    got((1L, "y")) shouldBe r6(1.0 * idf(2))
    got((2L, "z")) shouldBe r6(1.0 * idf(1))
    got((3L, "y")) shouldBe r6(2.0 * idf(2))
    got.size shouldBe 5
    // topK=1 keeps each doc's heaviest term (rarer z outweighs x in d2)
    val top = Retrieval.tfidf(docs, "id", "text", topK = 1)
      .select("id", "term").as[(Long, String)].collect().toMap
    top shouldBe Map(1L -> "x", 2L -> "z", 3L -> "y")
  }

  test("bm25 rewards term frequency and penalizes document length") {
    val docs = Seq(
      (1L, "x y z w"), (2L, "x x y z"), (3L, "x y z w q r s t u v")
    ).toDF("id", "text")
    val got = Retrieval.bm25(docs, "id", "text", Seq("x"))
      .as[(Long, Double)].collect().toMap
    got(2L) should be > got(1L) // higher tf at equal length
    got(1L) should be > got(3L) // equal tf, shorter doc
  }

  test("knnGraph returns exactly k deterministic neighbors per vector") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Retrieval.knnGraph(vecs, "vec_id", "embedding", k = 2)
      .select("src", "dst", "rk").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (s, rows) =>
        s -> rows.sortBy(_._3).map(_._2).toSeq
      }
    got(1L) shouldBe Seq(2L, 3L) // cos(1,2) ≈ .994 > cos(1,3) = 0 > cos(1,4) = −1
    got(4L) shouldBe Seq(3L, 2L) // cos(4,3) = 0 > cos(4,2) ≈ −.994 > cos(4,1) = −1
    got.values.foreach(_.size shouldBe 2)
  }

  test("knnGraphFromPairs over LSH candidates recalls the exact graph") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Retrieval.knnGraph(emb, "vec_id", "embedding", k = 3)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val lsh = Retrieval.knnGraphFromPairs(
        Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.2, planesPerBand = 2, bands = 16), k = 3)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    // candidate edges are a subset of all pairs; measure top-3 recall
    val recall = (exact intersect lsh).size.toDouble / exact.size
    recall should be >= 0.80
  }

  test("knnGraphFromPairs explode-symmetrization equals the unionAll form") {
    // the r15 restructure (unionAll of two selects → one map-side
    // explode of both orientations) sits on a no-oracle query path:
    // pin the equivalence directly against the naive union form so
    // future restructures of this path have small-fixture evidence
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (2L, 3L, 0.7),
      (4L, 5L, 0.6)).toDF("id_a", "id_b", "cos_sim")
    val viaExplode = Retrieval.knnGraphFromPairs(pairs, k = 2)
      .select("src", "dst", "cos_sim", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos_sim"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos_sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos_sim").desc, col("dst"))
    val viaUnion = sym.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 2)
      .select("src", "dst", "cos_sim", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    viaExplode shouldBe viaUnion
  }

  test("bm25 edge cases: empty/no-match docs absent, case-insensitive terms") {
    val docs = Seq((1L, ""), (2L, "nothing relevant here"), (3L, "X X")).toDF("id", "text")
    val got = Retrieval.bm25(docs, "id", "text", Seq("x"))
      .as[(Long, Double)].collect().toMap
    got.keySet shouldBe Set(3L) // matched via lower-casing; 1,2 dropped
    got(3L) should be > 0.0
    an[IllegalArgumentException] should be thrownBy
      Retrieval.bm25(docs, "id", "text", Seq.empty)
  }

  test("knnGraph with fewer than k+1 vectors returns all available neighbors") {
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.knnGraph(vecs, "vec_id", "embedding", k = 5)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L), (2L, 1L))
  }

  test("knnGraphFromPairs plan contains no nested-loop join") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Retrieval.knnGraphFromPairs(
        Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.2, planesPerBand = 2, bands = 16), k = 3)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("knnClassify: majority vote with deterministic tie-breaks, self excluded") {
    // query 0 (true A) at (1,0); k=3 neighbors by cosine: 1 (A, .9,.1),
    // 2 (B, .8,.2), 3 (B, .7,.3) → B wins 2-1 despite A ranking first.
    // 4 at (0,1) is far and must not enter the vote.
    val vecs = Seq(
      (0L, Seq(1f, 0f), "A"),
      (1L, Seq(0.9f, 0.1f), "A"),
      (2L, Seq(0.8f, 0.2f), "B"),
      (3L, Seq(0.7f, 0.3f), "B"),
      (4L, Seq(0f, 1f), "C")).toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val got = Retrieval.knnClassify(vecs, "vec_id", "embedding", "label",
        queries, "query_id", "qv", "qlabel", k = 3)
      .select("query_id", "true_label", "pred_label", "votes", "correct")
      .as[(Long, String, String, Long, Boolean)].collect()
    got shouldBe Array((0L, "A", "B", 2L, false))
  }

  test("knnClassify vote tie breaks by earliest supporting rank") {
    // k=2: neighbor 1 (A) ranks 1, neighbor 2 (B) ranks 2 — one vote
    // each; A's supporter ranks earlier so A must win.
    val vecs = Seq(
      (0L, Seq(1f, 0f), "A"),
      (1L, Seq(0.9f, 0.1f), "A"),
      (2L, Seq(0.8f, 0.2f), "B")).toDF("vec_id", "embedding", "label")
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val got = Retrieval.knnClassify(vecs, "vec_id", "embedding", "label",
        queries, "query_id", "qv", "qlabel", k = 2)
      .select("pred_label", "correct").as[(String, Boolean)].collect()
    got shouldBe Array(("A", true))
  }

  test("mmrRerank at lambda=1 reduces to relevance order; diversification kicks in below") {
    // corpus: two near-identical vectors close to the query plus one
    // orthogonal-ish outlier. λ=1 picks the two twins first (pure
    // relevance); λ=0.3 must pick the outlier second — the diversity
    // penalty overtakes the twin's higher relevance.
    val vecs = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.4f, 0.9f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1f, 0f))).toDF("query_id", "qv")
    def picks(lambda: Double): Seq[Long] =
      Retrieval.mmrRerank(vecs, "vec_id", "embedding",
          queries, "query_id", "qv", n = 3, m = 2, lambda = lambda)
        .orderBy(col("pick_rank")).select("neighbor_id")
        .as[Long].collect().toSeq
    picks(1.0) shouldBe Seq(1L, 2L)
    picks(0.3) shouldBe Seq(1L, 3L)
  }

  test("mmrRerank distributed selection equals the plain-Scala greedy reference") {
    // deterministic synthetic vectors (no RNG) — the Spark mapGroups
    // path must reproduce mmrGreedy run on the brute-force shortlist
    val dim = 8
    def vec(i: Long): Array[Double] =
      Array.tabulate(dim)(j => math.sin(i * 31 + j * 7) + math.cos(i * 13 - j))
    val corpus = (1L to 40L).map(i => (i, vec(i).map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, vec(100L).map(_.toFloat).toSeq))
      .toDF("query_id", "qv")
    val got = Retrieval.mmrRerank(corpus, "vec_id", "embedding",
        queries, "query_id", "qv", n = 10, m = 4, lambda = 0.6)
      .orderBy(col("pick_rank"))
      .select("neighbor_id", "mmr_score", "pick_rank")
      .as[(Long, Double, Int)].collect().toSeq
    // reference: brute-force top-10 by rounded cosine (id tie-break),
    // then the exposed plain-Scala greedy
    val q = vec(100L).map(_.toFloat).map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    def rnd(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val shortlist = (1L to 40L)
      .map { i =>
        val v = vec(i).map(_.toFloat).map(_.toDouble)
        (i, rnd(cos(v, q)), v)
      }
      .sortBy { case (id, c, _) => (-c, id) }.take(10).toArray
    val want = Retrieval.mmrGreedy(shortlist, m = 4, lambda = 0.6, roundTo = 6)
    got.map(_._1) shouldBe want.map(_._1)
    got.map(_._3) shouldBe want.map(_._3)
    got.zip(want).foreach { case ((_, s, _), (_, ws, _)) =>
      s shouldBe ws +- 1e-9
    }
  }

  test("tfidfCosinePairs: identical docs hit cos 1.0, disjoint docs never pair") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), // identical
      (3L, "delta epsilon zeta"),                         // disjoint
      (4L, "alpha beta theta"))                           // overlaps 1,2
      .toDF("doc_id", "text")
    val got = Retrieval.tfidfCosinePairs(docs, "doc_id", "text",
        dfNum = 1L, dfDen = 1L, threshold = 0.0)
      .orderBy(col("id_a"), col("id_b"))
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(t => (t._1, t._2)).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 4L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
    got.find(t => (t._1, t._2) == ((1L, 2L))).get._3 shouldBe 1.0
    // the partial-overlap pair scores strictly between 0 and 1
    val p14 = got.find(t => (t._1, t._2) == ((1L, 4L))).get._3
    p14 should be > 0.0
    p14 should be < 1.0
  }

  test("tfidfCosinePairs df-cut removes corpus-wide terms from the space entirely") {
    // 'common' is in all 4 docs; with a 1/2 cut it leaves the vector
    // space, so docs sharing ONLY 'common' have no pair at all and
    // docs 1-2 (sharing 'rare') score on the rare term alone: 1.0
    val docs = Seq(
      (1L, "common rare"), (2L, "common rare"),
      (3L, "common solo"), (4L, "common single"))
      .toDF("doc_id", "text")
    val got = Retrieval.tfidfCosinePairs(docs, "doc_id", "text",
        dfNum = 1L, dfDen = 2L, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
    got.map(t => (t._1, t._2)).toSet shouldBe Set((1L, 2L))
    got.head._3 shouldBe 1.0
  }

  test("tfidfCosinePairs absolute df ceiling drops hot terms the relative cut admits") {
    // 8 docs: 'hot' is in all of them (df 8 — passes a full relative
    // cut, but the maxDf=2 ceiling removes it from the space); docs 1-2
    // then pair only on 'rare' (cos 1.0), docs sharing ONLY 'hot' never
    // pair at all — the scale-free stopword semantics
    val docs = ((1L, "hot rare") +: (2L, "hot rare") +:
      (3L to 8L).map(i => (i, s"hot solo$i"))).toDF("doc_id", "text")
    val got = Retrieval.tfidfCosinePairs(docs, "doc_id", "text",
        dfNum = 1L, dfDen = 1L, threshold = 0.0, maxDf = 2L)
      .as[(Long, Long, Double)].collect()
    got.map(t => (t._1, t._2)).toSet shouldBe Set((1L, 2L))
    got.head._3 shouldBe 1.0
  }

  test("tfidfCosinePairs refuses a quadratic candidate mass, naming the knob") {
    // 12 docs all sharing the same 3 tokens → with a full df cut every
    // term has df=12 → mass = 3·(12·11/2) = 198 candidate pairs; a cap
    // of 100 must refuse BEFORE running the join, and say which knob
    val docs = (1L to 12L).map(i => (i, "tok1 tok2 tok3")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Retrieval.tfidfCosinePairs(docs, "doc_id", "text",
        dfNum = 1L, dfDen = 1L, threshold = 0.0, maxCandidatePairs = 100L)
    }
    e.getMessage should include("maxCandidatePairs")
    e.getMessage should include("198")
    // under the cap the same corpus runs fine
    Retrieval.tfidfCosinePairs(docs, "doc_id", "text",
        dfNum = 1L, dfDen = 1L, threshold = 0.0, maxCandidatePairs = 200L)
      .count() shouldBe 66L // all 12·11/2 identical-doc pairs
  }

  test("tfidfCosinePairs plan: equi-joins only beyond the scalar corpus count") {
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val plan = Retrieval.tfidfCosinePairs(docs, "doc_id", "text",
        1L, 1L, 0.5).queryExecution.executedPlan.toString
    // the only tolerated nested loops are copies of the 1-row
    // corpus-count broadcast (the weight subtree is replicated into
    // the two norm lookups and both term-join sides, so the single
    // logical crossJoin(broadcast(n)) prints up to 4 times; exchange
    // reuse dedupes the actual broadcast at runtime); the term
    // self-join and every other join must hash
    plan.linesIterator.count(
      _.contains("BroadcastNestedLoopJoin")) should be <= 4
    plan should not include "CartesianProduct"
  }

  test("booleanRetrieval: AND needs every term, OR needs one, dups don't double-count") {
    val docs = Seq(
      (1L, "spark window join extra"),
      (2L, "spark spark window"),  // repeats must not fake the 3rd term
      (3L, "join only here"),
      (4L, "nothing relevant")).toDF("doc_id", "text")
    val and3 = Retrieval.booleanRetrieval(docs, "doc_id", "text",
      Seq("spark", "window", "join"), minMatch = 3)
      .select("doc_id").as[Long].collect().toSet
    and3 shouldBe Set(1L)
    val or1 = Retrieval.booleanRetrieval(docs, "doc_id", "text",
      Seq("spark", "window", "join"), minMatch = 1)
      .orderBy("doc_id")
      .as[(Long, Long)].collect()
    or1 shouldBe Array((1L, 3L), (2L, 2L), (3L, 1L))
  }

  test("rankFromScores: predecessor-count ranks equal row_number under (score desc, id)") {
    val scored = Seq((1L, 0.9), (2L, 0.9), (3L, 0.5), (4L, 0.99), (5L, 0.1))
      .toDF("id", "score")
    val got = Retrieval.rankFromScores(scored, topN = 4)
      .orderBy("rank").as[(Long, Long)].collect()
    // order: 4(0.99), 1(0.9 tie id-first), 2(0.9), 3(0.5); 5 cut by topN
    got shouldBe Array((4L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
  }

  test("rrfFusion: fused score sums 1/(k+rank); single-list docs score lower") {
    val l1 = Seq((10L, 1L), (20L, 2L)).toDF("id", "rank")
    val l2 = Seq((20L, 1L), (30L, 2L)).toDF("id", "rank")
    val got = Retrieval.rrfFusion(Seq(l1, l2), k = 60, topN = 3)
      .as[(Long, Double, Long)].collect()
    // 20: 1/62 + 1/61 (two lists); 10: 1/61; 30: 1/62
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got shouldBe Array(
      (20L, r6(1.0 / 62 + 1.0 / 61), 2L),
      (10L, r6(1.0 / 61), 1L),
      (30L, r6(1.0 / 62), 1L))
  }

  test("substringSearch: exact matches with counts, normalization, no false hits") {
    val docs = Seq(
      (1L, "the batch batch job"),         // 1 occurrence
      (2L, "batch  BATCH batch"),          // ws+case normalize → 1 non-overlapping
      (3L, "batch job batch job"),         // both words, never adjacent — no hit
      (4L, "nothing here")).toDF("doc_id", "text")
    val got = Retrieval.substringSearchIndexed(
        Retrieval.trigramPostings(docs, "doc_id", "text"), docs, "doc_id", "text",
        "batch batch")
      .orderBy("doc_id").as[(Long, Long)].collect()
    got shouldBe Array((1L, 1L), (2L, 1L))
  }

  test("substringSearch counts non-overlapping occurrences left to right") {
    val docs = Seq((1L, "ab ab ab ab")).toDF("doc_id", "text")
    // needle "ab ab": occurrences at 0 and 6 (position 3 overlaps the first)
    Retrieval.substringSearchIndexed(Retrieval.trigramPostings(docs, "doc_id", "text"),
        docs, "doc_id", "text", "ab ab")
      .as[(Long, Long)].collect() shouldBe Array((1L, 2L))
  }

  test("booleanRetrieval filters terms before the shuffle (no full-corpus distinct)") {
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val plan = Retrieval.booleanRetrieval(docs, "doc_id", "text",
      Seq("a"), 1).queryExecution.executedPlan.toString
    // the IN-filter must sit below the first exchange: after explode the
    // filter on tok appears in the same codegen stage, not post-shuffle
    plan should include("Filter")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("phraseSearch: consecutive token matches, overlaps counted") {
    val docs = Seq(
      (1L, "a b a b a"),   // (a,b) at positions 0 and 2
      (2L, "a a a"),       // (a,a) overlapping at 0 and 1 — but no (a,b)
      (3L, "b a"),         // reversed order — no (a,b)
      (4L, "ab a b")       // "ab" is one token, then (a,b) at 1
    ).toDF("doc_id", "text")
    Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a", "b"))
      .orderBy("doc_id").as[(Long, Long)].collect() shouldBe
      Array((1L, 2L), (4L, 1L))
    Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a", "a"))
      .orderBy("doc_id").as[(Long, Long)].collect() shouldBe
      Array((2L, 2L))
  }

  test("phraseSearch: token-exact (no substring matches), short docs safe") {
    val docs = Seq((1L, "batch batching"), (2L, "batch"), (3L, ""))
      .toDF("doc_id", "text")
    Retrieval.phraseSearch(docs, "doc_id", "text", Seq("batch", "batch"))
      .collect() shouldBe empty
    // single-token phrase degenerates to a token-count filter
    Retrieval.phraseSearch(docs, "doc_id", "text", Seq("batch"))
      .orderBy("doc_id").as[(Long, Long)].collect() shouldBe
      Array((1L, 1L), (2L, 1L))
  }
}
