package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst kernels for the dedup hot path.
  *
  * The composed higher-order-function pipelines (Dedup.minhashSignature
  * et al.) are semantically clean but interpreted: Spark's lambda HOFs
  * are CodegenFallback, so a 32-hash × S-shingle signature costs
  * 32·S interpreted expression evaluations per row. These expressions
  * collapse each pipeline into ONE codegen-participating call whose body
  * is a tight JIT-compiled loop over primitive arrays (XXH64 static
  * hashing, no allocation beyond the output) — the preference-order (b)
  * path of the build brief: custom Catalyst Expression before any UDF.
  *
  * All kernels hash tokens with xxhash64(seed=42) — identical to the
  * builtin `xxhash64(col)` — and are deterministic across executors.
  */
object DedupKernels {
  private final val Seed = 42L

  /** xxhash64 of every token (same value as builtin xxhash64(token)). */
  def tokenHashes(tokens: ArrayData): Array[Long] = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      th(i) = if (s == null) 0L else XXH64.hashUTF8String(s, Seed)
      i += 1
    }
    th
  }

  /** Rolling hash of the token-hash window [from, until). */
  private def windowHash(th: Array[Long], from: Int, until: Int): Long = {
    var h = Seed
    var j = from
    while (j < until) { h = XXH64.hashLong(th(j), h); j += 1 }
    h
  }

  /** MinHash signature straight from the token array: shingle hashes are
    * rolling combines of k token hashes (duplicates don't affect min);
    * hash family i is XXH64.hashLong(shingle, i). Empty docs get an
    * all-MaxValue signature (identical empty docs still collide — they
    * ARE duplicates).
    */
  def minhashSig(tokens: ArrayData, k: Int, numHashes: Int): ArrayData = {
    val th = tokenHashes(tokens)
    val n = th.length
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (n > 0) {
      val numShingles = math.max(n - k + 1, 1)
      var i = 0
      while (i < numShingles) {
        val sh = windowHash(th, i, math.min(i + k, n))
        var p = 0
        while (p < numHashes) {
          val c = XXH64.hashLong(sh, p)
          if (c < sig(p)) sig(p) = c
          p += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over the token array: per-bit majority vote of token
    * hashes (bit set iff ones·2 > n) — value-identical to the composed
    * Dedup.simhash64 pipeline.
    */
  def simhash(tokens: ArrayData): Long = {
    val th = tokenHashes(tokens)
    val counts = new Array[Int](64)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > th.length) out |= (1L << b); b += 1 }
    out
  }

  /** Distinct shingle hashes (sorted) — the set representation for exact
    * n-gram Jaccard.
    */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val th = tokenHashes(tokens)
    val n = th.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val numShingles = math.max(n - k + 1, 1)
    val hs = new Array[Long](numShingles)
    var i = 0
    while (i < numShingles) { hs(i) = windowHash(th, i, math.min(i + k, n)); i += 1 }
    java.util.Arrays.sort(hs)
    var m = 0
    var j = 0
    while (j < numShingles) {
      if (m == 0 || hs(j) != hs(m - 1)) { hs(m) = hs(j); m += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, m))
  }

  /** Fraction of positions where two equal-length long arrays agree —
    * the MinHash Jaccard estimator. Lengths must match (registered as a
    * public SQL function; indexing past the shorter UnsafeArrayData
    * would read garbage, so mismatches throw instead).
    */
  def sigAgreement(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"sig_agreement requires equal-length signatures, got $n and ${b.numElements()}")
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** LSH band keys from a minhash signature: one 64-bit key per band,
    * band index folded into the key so a single-long equi-join suffices
    * (no composite (band, bkey) key, halving the shuffled bytes).
    * A signature whose length differs from bands·rowsPerBand in EITHER
    * direction fails loudly — a short one would read UnsafeArrayData
    * past the end (garbage keys), a long one would silently band only a
    * prefix and drop trailing hashes (the silent-truncation behavior the
    * shared ragged-input contract rejects in sq8_scores/pq_adc/
    * bq_hamming).
    */
  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (sig.numElements() != bands * rowsPerBand)
      throw new IllegalArgumentException(
        s"lsh_band_keys requires signatures of exactly ${bands * rowsPerBand} " +
          s"hashes (bands=$bands x rowsPerBand=$rowsPerBand), got " +
          s"${sig.numElements()}")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var j = b * rowsPerBand
      val end = j + rowsPerBand
      while (j < end) { h = XXH64.hashLong(sig.getLong(j), h); j += 1 }
      out(b) = XXH64.hashLong(h.toLong, b.toLong)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Column-API wrappers for the kernels. */
object DedupExpr {
  private val Tokens = "array<string>"
  private val Sig = "array<bigint>"
  private val Longs = ArrayType(LongType, containsNull = false)

  def minhashSig(tokens: Column, shingleK: Int, numHashes: Int): Column =
    KernelCall.column("minhash_sig", DedupKernels, "minhashSig", Longs,
      Seq(tokens -> Tokens), shingleK, numHashes)
  def simhash(tokens: Column): Column =
    KernelCall.column("simhash64", DedupKernels, "simhash", LongType, Seq(tokens -> Tokens))
  def shingleHashes(tokens: Column, shingleK: Int): Column =
    KernelCall.column("shingle_hashes", DedupKernels, "shingleHashes", Longs,
      Seq(tokens -> Tokens), shingleK)
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    KernelCall.column("lsh_band_keys", DedupKernels, "bandKeys", Longs,
      Seq(sig -> Sig), bands, rowsPerBand)
  def sigAgreement(a: Column, b: Column): Column =
    KernelCall.column("sig_agreement", DedupKernels, "sigAgreement", DoubleType,
      Seq(a -> Sig, b -> Sig))
}
