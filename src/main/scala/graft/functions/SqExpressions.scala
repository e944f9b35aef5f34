package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Scalar-quantization (SQ8) kernels — the third code-compression
  * family beside PQ codebooks ([[PqKernels]]) and sign-LSH bit planes:
  * each dimension of the L2-normalized vector maps linearly to one
  * unsigned byte against per-dimension (min, Δ) bounds trained from the
  * corpus (the FAISS `SQ8` / vector-database default). 4× smaller than
  * float32 with near-exact recall at moderate dimensionality, and the
  * score path is a fused byte-weighted dot product inside
  * WholeStageCodegen: score(q, codes) = const_q + Σ_i w_q(i)·code(i)
  * with w_q(i) = q̂_i·Δ_i/255 and const_q = Σ_i q̂_i·min_i — i.e. the
  * exact dot of q̂ with the decoded grid point, computed without ever
  * materializing the decode.
  */
object SqKernels {

  /** L2-normalized copy as array<double> — the generic normalize kernel
    * (shares [[PqKernels.normalized]]'s zero-vector contract).
    */
  def l2normalize(v: ArrayData, isF: Boolean): ArrayData =
    new GenericArrayData(PqKernels.normalized(v, isF))

  /** Per-dimension byte code of the normalized vector: c_i =
    * clamp(rint((x_i − min_i)/Δ_i · 255), 0, 255); a degenerate
    * dimension (Δ ≤ 0) encodes 0. Out-of-bounds values clamp (queries
    * and late corpus rows may exceed the trained range slightly).
    */
  def encode(v: ArrayData, isF: Boolean, mins: Array[Double],
             deltas: Array[Double]): Array[Byte] = {
    val x = PqKernels.normalized(v, isF)
    if (x.length != mins.length) throw new IllegalArgumentException(
      s"sq8_encode requires vectors of length ${mins.length}, got ${x.length}")
    val out = new Array[Byte](x.length)
    var i = 0
    while (i < x.length) {
      val d = deltas(i)
      val c =
        if (d <= 0.0) 0
        else {
          val r = math.rint((x(i) - mins(i)) / d * 255.0).toInt
          if (r < 0) 0 else if (r > 255) 255 else r
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** Asymmetric scores of one code row against Q query weight tables:
    * out(q) = consts(q) + Σ_i weights(q)(i)·(codes(i) & 0xFF). A code
    * row whose byte count differs from the trained dimension fails
    * loudly — a shorter ragged row would otherwise sum a silently
    * truncated score; a longer one would read past the weight table.
    */
  def scores(codes: Array[Byte], weights: Array[Array[Double]],
             consts: Array[Double]): ArrayData = {
    if (weights.length > 0 && codes.length != weights(0).length)
      throw new IllegalArgumentException(
        s"sq8_scores requires code rows of ${weights(0).length} bytes " +
          s"(trained dimension), got ${codes.length}")
    val out = new Array[Double](weights.length)
    var q = 0
    while (q < weights.length) {
      val w = weights(q)
      var s = consts(q)
      var i = 0
      while (i < codes.length) { s += w(i) * (codes(i) & 0xFF); i += 1 }
      out(q) = s
      q += 1
    }
    new GenericArrayData(out)
  }
}

object SqExpr {
  private val Doubles = ArrayType(DoubleType, containsNull = false)

  /** l2_normalize(vec): array<double> — the normalized vector. */
  def l2normalize(v: Column): Column =
    KernelCall.column("l2_normalize", SqKernels, "l2normalize", Doubles,
      Seq(v -> KernelCall.FloatVec))

  /** codes = sq8_encode(vec): BinaryType of d bytes. */
  def encode(v: Column, mins: Array[Double], deltas: Array[Double]): Column =
    KernelCall.column("sq8_encode", SqKernels, "encode", BinaryType,
      Seq(v -> KernelCall.FloatVec), mins, deltas)

  /** scores = sq8_scores(codes): array<double>, one asymmetric score per query. */
  def scores(codes: Column, weights: Array[Array[Double]],
             consts: Array[Double]): Column =
    KernelCall.column("sq8_scores", SqKernels, "scores", Doubles,
      Seq(codes -> "binary"), weights, consts)
}
