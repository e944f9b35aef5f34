package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** MinHash+LSH dedup throughput/recall harness: generates N synthetic
  * docs (80 tokens each) plus N/10 planted near-duplicates (one token
  * changed), runs signature → banding → pair → component → keeper
  * end-to-end and reports wall time and recall of the planted pairs.
  *
  *   sbt "runMain graft.tools.DedupBench [nDocs]"
  */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val cpus = ToolSession.cpus
    val spark = ToolSession()

    // deterministic pseudorandom corpus: token(id, i) = t<xxhash64(id, i) mod 50000>
    // (hash-mixed so distinct docs share shingles only by chance)
    def text(idCol: org.apache.spark.sql.Column, mutate: Boolean) = {
      val toks = transform(sequence(lit(0), lit(79)), i => {
        val t = concat(lit("t"), pmod(xxhash64(idCol, i), lit(50000)))
        if (mutate) when(i === pmod(idCol, lit(80)), lit("MUTANT")).otherwise(t) else t
      })
      array_join(toks, " ")
    }
    val base = spark.range(n).select(col("id").as("doc_id"), text(col("id"), mutate = false).as("text"))
    val dups = spark.range(n / 10).select((col("id") + n).as("doc_id"), text(col("id"), mutate = true).as("text"))
    val docs = base.unionByName(dups).localCheckpoint(true)

    val t0 = System.nanoTime()
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5).localCheckpoint(true)
    val nPairs = pairs.count()
    val t1 = System.nanoTime()
    val keepers = Dedup.keepers(docs, "doc_id", pairs)
    val nKept = keepers.where(col("keep")).count()
    val t2 = System.nanoTime()

    // recall: planted pair (id, id+n) for id < n/10
    val planted = pairs.where(col("id_b") === col("id_a") + n && col("id_a") < n / 10).count()
    println(s"""{"metric":"minhash_dedup","docs":${n + n / 10},"pairs":$nPairs,"planted_found":$planted,"planted_total":${n / 10},"recall":${planted.toDouble / (n / 10)},"kept":$nKept,"pairs_sec":${(t1 - t0) / 1e9},"cluster_sec":${(t2 - t1) / 1e9},"cpus":$cpus}""")

    val t3 = System.nanoTime()
    val shPairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
    val shPlanted = shPairs
      .where(col("id_b") === col("id_a") + n && col("id_a") < n / 10).count()
    val t4 = System.nanoTime()
    println(s"""{"metric":"simhash_dedup","docs":${n + n / 10},"planted_found":$shPlanted,"planted_total":${n / 10},"sec":${(t4 - t3) / 1e9},"cpus":$cpus}""")

    val t5 = System.nanoTime()
    val ngPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
    val ngPlanted = ngPairs
      .where(col("id_b") === col("id_a") + n && col("id_a") < n / 10).count()
    val t6 = System.nanoTime()
    println(s"""{"metric":"ngram_dedup","docs":${n + n / 10},"planted_found":$ngPlanted,"planted_total":${n / 10},"sec":${(t6 - t5) / 1e9},"cpus":$cpus}""")


    // Decontamination at scale: every 1000th base doc plays the held-out
    // benchmark (n/1000 docs, shingle universe broadcast); ground truth =
    // the planted near-duplicates of benchmark members (id % 1000 == 0,
    // id < n/10 → dup doc_id id+n shares 76+ of its ~78 shingles).
    // Random cross-doc shingle overlap is ~0 (3-token shingles over a
    // 50k vocab), so precision is intrinsic; we report planted recall.
    val t6b = System.nanoTime()
    val isBench = col("doc_id") % 1000 === 0 && col("doc_id") < n
    val decon = graft.operators.Curation.decontaminate(
      docs.where(!isBench), "doc_id", "text",
      docs.where(isBench), "text", k = 3).localCheckpoint(true)
    val nContam = decon.where(col("contaminated")).count()
    val dPlanted = decon.where(col("contaminated") &&
      col("id") >= n && (col("id") - n) % 1000 === 0).count()
    val t6c = System.nanoTime()
    println(s"""{"metric":"decontaminate","docs":${n + n / 10},"bench_docs":${n / 1000},"contaminated":$nContam,"planted_found":$dPlanted,"planted_total":${n / 10000},"sec":${(t6c - t6b) / 1e9},"cpus":$cpus}""")

    // Bloom-prefiltered variant: must find exactly the same contaminated
    // set (no false negatives; survivors exact-verified) — reported as a
    // match flag plus its own wall time
    val t6d = System.nanoTime()
    val deconB = graft.operators.Curation.decontaminateBloom(
      docs.where(!isBench), "doc_id", "text",
      docs.where(isBench), "text", k = 3).localCheckpoint(true)
    val nContamB = deconB.where(col("contaminated")).count()
    val t6e = System.nanoTime()
    println(s"""{"metric":"decontaminate_bloom","docs":${n + n / 10},"contaminated":$nContamB,"matches_exact":${nContamB == nContam},"sec":${(t6e - t6d) / 1e9},"cpus":$cpus}""")

    // Passage-level exact dedup: each planted near-dup differs from its
    // base doc in ONE token, so 3 of its 4 20-word passages are exact
    // repeats and must be dropped (the mutated passage survives).
    val t6f = System.nanoTime()
    val pd = Dedup.passageDedup(docs, "doc_id", "text", 20).localCheckpoint(true)
    val pdDocs = pd.count()
    val pdKept = pd.agg(sum(col("n_kept"))).head().getLong(0)
    val t6g = System.nanoTime()
    println(s"""{"metric":"passage_dedup","docs":${n + n / 10},"surviving_docs":$pdDocs,"kept_passages":$pdKept,"total_passages":${(n + n / 10) * 4},"sec":${(t6g - t6f) / 1e9},"cpus":$cpus}""")

    // Embedding near-dup at scale: n pseudorandom 64-dim vectors plus
    // n/10 planted near-duplicates (component noise in [-0.05, 0.05]
    // over components in [-1, 1] ⇒ cosine ≈ 0.998). Banded sign-LSH with
    // production-shaped parameters: 20 planes/band × 8 bands → 2^20
    // buckets/band, so random-pair candidates ≈ n²·8/2^20 (vanishing),
    // while planted pairs collide in ≥1 band w.p. ~0.997.
    def vecOf(idCol: org.apache.spark.sql.Column, mutate: Boolean) = {
      val base = transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(idCol, i), lit(2001)).cast("double") - 1000.0) / 1000.0)
      val noisy = if (mutate)
        zip_with(base, sequence(lit(0), lit(63)), (x, i) =>
          x + (pmod(xxhash64(idCol, i, lit(7)), lit(201)).cast("double") - 100.0) / 2000.0)
      else base
      transform(noisy, x => x.cast("float"))
    }
    val vBase = spark.range(n).select(col("id").as("vec_id"), vecOf(col("id"), mutate = false).as("embedding"))
    val vDups = spark.range(n / 10).select((col("id") + n).as("vec_id"), vecOf(col("id"), mutate = true).as("embedding"))
    val vecs = vBase.unionByName(vDups).localCheckpoint(true)
    val t7 = System.nanoTime()
    val ePairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, planesPerBand = 20, bands = 8).localCheckpoint(true)
    val nEPairs = ePairs.count()
    val ePlanted = ePairs.where(col("id_b") === col("id_a") + n && col("id_a") < n / 10).count()
    val t8 = System.nanoTime()
    println(s"""{"metric":"embedding_lsh_dedup","vectors":${n + n / 10},"pairs":$nEPairs,"planted_found":$ePlanted,"planted_total":${n / 10},"recall":${ePlanted.toDouble / (n / 10)},"sec":${(t8 - t7) / 1e9},"cpus":$cpus}""")
    spark.stop()
  }
}
