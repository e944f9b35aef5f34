package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels: encode a vector to m bytes (one
  * codebook index per subspace) and score codes against per-query
  * lookup tables (asymmetric distance computation). Both are single
  * fused loops inside WholeStageCodegen; the codebooks/LUTs ride into
  * the generated code as reference objects, so scoring a corpus row
  * against Q queries costs m·Q array lookups — no vector arithmetic,
  * no shuffle, and the corpus is read as m-byte codes instead of
  * 4·dim-byte floats (16× less I/O at dim=64, m=16).
  */
object PqKernels {

  /** L2-normalize into a fresh double array (zero vectors stay zero, so
    * their dot with anything is 0 — same contract as
    * [[VectorKernels.cosine]]'s zero-norm guard).
    */
  def normalized(v: ArrayData, isF: Boolean): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = x; ss += x * x; i += 1
    }
    if (ss > 0.0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    out
  }

  /** Encode: for each subspace s, the index of the L2-nearest codebook
    * centroid of the NORMALIZED vector's slice. `cents(s)` is that
    * subspace's centroids flattened as k rows of subDim doubles.
    * Vector length must be m·subDim (validated — these are public ops).
    */
  def encode(v: ArrayData, isF: Boolean, subDim: Int, k: Int,
             cents: Array[Array[Double]]): Array[Byte] = {
    val m = cents.length
    val x = normalized(v, isF)
    if (x.length != m * subDim) throw new IllegalArgumentException(
      s"pq_encode requires vectors of length ${m * subDim}, got ${x.length}")
    nearestCodes(x, subDim, k, cents)
  }

  /** Residual encode: normalize the vector, subtract its IVF cluster's
    * (normalized) centroid, and PQ-encode the residual. Residuals are
    * much smaller in magnitude than raw vectors on clustered data, so
    * the same m·k codebook budget quantizes them with far less error —
    * the standard FAISS IVF-PQ composition. `ids` must be sorted
    * (binary-searched per row); centroids are pre-normalized like the
    * `nearest_centroid` kernel's.
    */
  def encodeResidual(v: ArrayData, cid: Long, isF: Boolean, ids: Array[Long],
                     cnorm: Array[Array[Double]], subDim: Int, k: Int,
                     cents: Array[Array[Double]]): Array[Byte] = {
    val m = cents.length
    val x = normalized(v, isF)
    if (x.length != m * subDim) throw new IllegalArgumentException(
      s"pq_encode_residual requires vectors of length ${m * subDim}, got ${x.length}")
    val ci = java.util.Arrays.binarySearch(ids, cid)
    if (ci < 0) throw new IllegalArgumentException(
      s"pq_encode_residual: unknown cluster_id $cid")
    val c = cnorm(ci)
    var i = 0
    while (i < x.length) { x(i) -= c(i); i += 1 }
    nearestCodes(x, subDim, k, cents)
  }

  /** Per subspace s, the index of the L2-nearest of the k centroids in
    * `cents(s)` (flattened as k rows of subDim doubles) to x's slice.
    */
  private def nearestCodes(x: Array[Double], subDim: Int, k: Int,
                           cents: Array[Array[Double]]): Array[Byte] = {
    val m = cents.length
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cs = cents(s)
      val base = s * subDim
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        var j = 0
        val cb = c * subDim
        while (j < subDim) {
          val diff = x(base + j) - cs(cb + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    codes
  }

  /** ADC score of one code row against ONE of the Q query LUTs (chosen
    * per row — the IVF-PQ probe join tags each row with its query).
    * A code row whose subspace count disagrees with the LUT's m·k shape
    * fails loudly (the ragged-input contract shared by
    * [[SqKernels.scores]] / [[BqKernels.hammingScores]]).
    */
  def adcScoreAt(codes: Array[Byte], qidx: Int, k: Int,
                 luts: Array[Array[Double]]): Double = {
    val lut = luts(qidx)
    if (codes.length * k != lut.length) throw new IllegalArgumentException(
      s"pq_adc_score_at requires code rows of ${lut.length / k} subspaces " +
        s"(LUT shape), got ${codes.length}")
    var s = 0.0
    var i = 0
    while (i < codes.length) {
      s += lut(i * k + (codes(i) & 0xFF))
      i += 1
    }
    s
  }

  /** ADC scores of one code row against Q query LUTs: out(q) =
    * Σ_s luts(q)(s·k + code(s)) — the inner-product approximation of
    * (normalized corpus vector) · (normalized query q).
    */
  def adcScores(codes: Array[Byte], k: Int, luts: Array[Array[Double]]): ArrayData = {
    val m = codes.length
    if (luts.length > 0 && m * k != luts(0).length)
      throw new IllegalArgumentException(
        s"pq_adc_scores requires code rows of ${luts(0).length / k} " +
          s"subspaces (LUT shape), got $m")
    val out = new Array[Double](luts.length)
    var q = 0
    while (q < luts.length) {
      val lut = luts(q)
      var s = 0.0
      var i = 0
      while (i < m) {
        s += lut(i * k + (codes(i) & 0xFF))
        i += 1
      }
      out(q) = s
      q += 1
    }
    new GenericArrayData(out)
  }
}

object PqExpr {
  /** Build-time (once per column, not per row) LUT-shape
    * validation: the per-row kernel checks only the code width against
    * luts(0)/the selected LUT, so a ragged LUT among the rest would read
    * out of bounds or mis-score silently. Uniformity asserted here keeps
    * the O(Q) sweep off the hot scoring path.
    */
  private def requireUniformLuts(name: String, luts: Array[Array[Double]]): Unit = {
    var q = 1
    while (q < luts.length) {
      require(luts(q).length == luts(0).length,
        s"$name requires uniform LUTs: lut(0) has ${luts(0).length} " +
          s"entries but lut($q) has ${luts(q).length}")
      q += 1
    }
  }

  private val Scores = ArrayType(DoubleType, containsNull = false)

  /** codes = pq_encode(vec): BinaryType of m bytes. */
  def encode(v: Column, subDim: Int, k: Int, cents: Array[Array[Double]]): Column =
    KernelCall.column("pq_encode", PqKernels, "encode", BinaryType,
      Seq(v -> KernelCall.FloatVec), subDim, k, cents)

  /** codes = pq_encode_residual(vec, cluster_id): BinaryType of m bytes —
    * the vector's PQ codes relative to its IVF cluster centroid.
    */
  def encodeResidual(v: Column, clusterId: Column, ids: Array[Long],
                     cnorm: Array[Array[Double]], subDim: Int, k: Int,
                     cents: Array[Array[Double]]): Column =
    KernelCall.column("pq_encode_residual", PqKernels, "encodeResidual", BinaryType,
      Seq(v -> KernelCall.FloatVec, clusterId -> "bigint"), ids, cnorm, subDim, k, cents)

  /** scores = pq_adc_scores(codes): array<double>, one ADC score per query LUT. */
  def adcScores(codes: Column, k: Int, luts: Array[Array[Double]]): Column = {
    requireUniformLuts("pq_adc_scores", luts)
    KernelCall.column("pq_adc_scores", PqKernels, "adcScores", Scores,
      Seq(codes -> "binary"), k, luts)
  }

  /** score = pq_adc_score_at(codes, qidx): the row-selected query's ADC score. */
  def adcScoreAt(codes: Column, qidx: Column, k: Int, luts: Array[Array[Double]]): Column = {
    requireUniformLuts("pq_adc_score_at", luts)
    KernelCall.column("pq_adc_score_at", PqKernels, "adcScoreAt", DoubleType,
      Seq(codes -> "binary", qidx -> "int"), k, luts)
  }
}
