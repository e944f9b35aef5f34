package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 1.0f, 0.0f)),
    (2L, Seq(1.0f, 1.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f)),
    (4L, Seq(2.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  /** HOF form of [[Similarity.cosine]]: the parity oracle. */
  private def cosineComposed(a: Column, b: Column): Column = {
    val ad = Similarity.asDouble(a); val bd = Similarity.asDouble(b)
    Similarity.dot(ad, bd) / (Similarity.l2Norm(ad) * Similarity.l2Norm(bd))
  }

  /** Deterministic pseudo-random unit-ish hyperplane component: a value in
    * [-1, 1) derived from (plane index, dimension index) via xxhash64 —
    * reproducible on every executor with zero state shipped.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (xxhash64(lit(plane), dim).cast("double") / lit(Long.MaxValue.toDouble))

  /** HOF form of [[Similarity.signLshSignature]]: the parity oracle. */
  private def signLshSignatureComposed(vec: Column, numPlanes: Int): Column = {
    val vd = Similarity.asDouble(vec)
    (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(vd, sequence(lit(0), functions.size(vd) - 1),
          (x, i) => x * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  test("dot / l2Norm / cosine match hand-computed values") {
    val r = vecs.where(col("vec_id") === 2L)
      .select(
        Similarity.dot(Similarity.asDouble(col("embedding")),
          Similarity.asDouble(col("embedding"))).as("d"),
        Similarity.l2Norm(Similarity.asDouble(col("embedding"))).as("n"),
        Similarity.cosine(col("embedding"), typedLit(Seq(1.0, 0.0, 0.0))).as("c"))
      .as[(Double, Double, Double)].head()
    r._1 shouldBe 2.0 +- 1e-12
    r._2 shouldBe math.sqrt(2) +- 1e-12
    r._3 shouldBe (1.0 / math.sqrt(2)) +- 1e-12
  }

  test("sign-LSH kernel is value-identical to the composed HOF signature") {
    val both = vecs.select(
        Similarity.signLshSignature(col("embedding"), 12).as("k"),
        signLshSignatureComposed(col("embedding"), 12).as("h"))
      .as[(Long, Long)].collect()
    both.foreach { case (k, h) => k shouldBe h }
  }

  test("kernel cosine is bit-identical to the composed HOF cosine") {
    val both = vecs.crossJoin(vecs.select(col("embedding").as("e2")))
      .select(Similarity.cosine(col("embedding"), col("e2")).as("k"),
        cosineComposed(col("embedding"), col("e2")).as("h"))
      .as[(Double, Double)].collect()
    both.foreach { case (k, h) =>
      // kernel deviates from the HOF form only at zero norms: 0.0, not NaN
      if (h.isNaN) k shouldBe 0.0 else k shouldBe h
    }
  }

  test("embeddingNearDupPairs: same-direction vectors found, opposite never bucketed") {
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.99, planesPerBand = 4, bands = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((0L, 4L)) // colinear vectors, cosine 1.0
    pairs.flatMap(p => Set(p._1, p._2)) should not contain 3L // opposite of 0/4
  }

  test("embeddingNearDupPairs ⊆ exact all-pairs, recall ≥ 0.95 on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .where(Similarity.cosine(col("va"), col("vb")) >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, planesPerBand = 3, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    exact should not be empty
    // candidate filtering can only DROP true pairs, never invent them
    lsh.subsetOf(exact) shouldBe true
    val recall = lsh.size.toDouble / exact.size
    withClue(s"recall $recall (${lsh.size}/${exact.size}): ") {
      recall should be >= 0.95
    }
  }

  test("semanticNearDupPairs ⊆ exact all-pairs; recall reported on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .where(Similarity.cosine(col("va"), col("vb")) >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sem = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
        numCentroids = 8, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    exact should not be empty
    // cluster bucketing can only DROP cross-bucket pairs, never invent
    sem.subsetOf(exact) shouldBe true
    // determinism: seeded Lloyd + deterministic assignment ⇒ same set
    val again = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
        numCentroids = 8, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    again shouldBe sem
    // the EXACT contract: sem is precisely the exact pairs whose two
    // ids share a k-means bucket — complete within buckets, silent
    // across them (this corpus's pairs are all weak, cos ≤ 0.48, so
    // cross-bucket scatter is expected and the planted-dup test below
    // carries the recall story)
    val asg = Ivf.build(emb, "vec_id", "embedding", numCentroids = 8,
        lloydIters = 2)._1
      .select(col("vec_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toMap
    val coBucketed = exact.filter { case (x, y) => asg(x) == asg(y) }
    sem shouldBe coBucketed
  }

  test("semanticNearDupPairs finds planted true duplicates (SemDeDup recall)") {
    // 200 deterministic pseudo-random 8-d vectors; ids 1000-1009 are
    // near-identical copies of ids 0-9 (one component nudged 1%) — the
    // actual SemDeDup regime (cos ≈ 0.999). True dups co-cluster, so
    // every planted pair must surface.
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(d => (((i * 2654435761L + d * 40503L) % 1000) / 500f - 1f))
    val base = (0L until 200L).map(i => (i, vec(i)))
    val dups = (0L until 10L).map(i =>
      (1000L + i, vec(i).updated(0, vec(i).head * 1.01f + 0.001f)))
    val all = (base ++ dups).toDF("vec_id", "embedding")
    val sem = Dedup.semanticNearDupPairs(all, "vec_id", "embedding",
        numCentroids = 8, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 10L).map(i => (i, 1000L + i)).toSet
    withClue(s"found ${sem.size} pairs, planted hits ${planted.count(sem.contains)}: ") {
      planted.subsetOf(sem) shouldBe true
    }
  }

  test("labelCentroids: hand-computed per-label per-dim mean and variance") {
    val df = Seq(
      ("A", Seq(1f, 0f)),
      ("A", Seq(3f, 2f)),
      ("B", Seq(10f, -2f))).toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .orderBy("label", "dim")
      .as[(String, Long, Double, Double)].collect().toSeq
    // A dim1: mean(1,3)=2, var=E[v^2]-E[v]^2=(1+9)/2-4=1
    // A dim2: mean(0,2)=1, var=(0+4)/2-1=1; B: single row -> var 0
    got shouldBe Seq(
      ("A", 1L, 2.0, 1.0), ("A", 2L, 1.0, 1.0),
      ("B", 1L, 10.0, 0.0), ("B", 2L, -2.0, 0.0))
  }

  test("bruteForceTopK: correct neighbours, ranked by cosine desc, self excluded") {
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        queries, "query_id", "qv", k = 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // cos to q=[1,0,0]: id4=1.0, id2=0.707, id1=0.0, id3=-1.0
    got.map(_._1) shouldBe Array(4L, 2L, 1L)
    got.map(_._2) shouldBe Array(1, 2, 3)
    // duplicate corpus vectors: ids 6 and 5 copy id 4, so three rows tie
    // at cosine 1.0 and k = 2 cuts through the tie — the lower ids win
    val dups = vecs.union(Seq((6L, Seq(2.0f, 0.0f, 0.0f)), (5L, Seq(2.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val tied = Similarity.bruteForceTopK(dups, "vec_id", "embedding",
        queries, "query_id", "qv", k = 2)
      .select("neighbor_id", "cos_sim", "rank").as[(Long, Double, Int)].collect().sortBy(_._3)
    tied.map(_._1) shouldBe Array(4L, 5L)
    tied.map(_._2) shouldBe Array(1.0, 1.0)
    tied.map(_._3) shouldBe Array(1, 2)
  }

  test("lshTopK: identical-direction vectors share a bucket, rank by cosine") {
    val queries = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = Similarity.lshTopK(vecs, "vec_id", "embedding",
        queries, "query_id", "qv", k = 3, numPlanes = 4)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect().toMap
    // id 4 = 2×query direction: identical signature, cosine 1.0 — must appear
    got(4L) shouldBe 1.0 +- 1e-9
    // opposite vector can never share a sign-LSH bucket with the query
    got.keySet should not contain 3L
  }
}
