package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Binary-quantization (1-bit) kernels — the cheapest rung of the
  * code-compression ladder (float32 → SQ8 ([[SqKernels]]) → PQ
  * ([[PqKernels]]) → 1 bit/dimension): each dimension keeps only its
  * SIGN, packed 64 dimensions per long. 32× smaller than float32, and
  * candidate scoring degenerates to XOR + popcount — the Hamming
  * distance between sign patterns is a monotone proxy for angular
  * distance (Charikar 2002's sign-LSH collision bound applied to the
  * identity basis: P[sign differs in dim i] = θ-dependent), so a
  * Hamming shortlist + exact re-rank ([[graft.operators.Bq]])
  * recovers near-exact top-k at a fraction of the scan cost.
  *
  * Signs are taken on the RAW vector (strictly positive bit = x > 0):
  * L2 normalization never changes a component's sign, so encoding
  * skips it entirely — unlike SQ8/PQ there is nothing to train and no
  * corpus pass before encode.
  */
object BqKernels {

  /** Sign-bit pack: bit i of word i/64 = (x_i > 0). d dims → ⌈d/64⌉
    * longs; trailing bits of the last word stay 0 (they cancel in XOR).
    */
  def encode(v: ArrayData, isF: Boolean): ArrayData = {
    val d = v.numElements()
    val words = new Array[Long]((d + 63) >>> 6)
    var i = 0
    while (i < d) {
      val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
      if (x > 0.0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Fused Hamming distances of one code row against Q query codes:
    * out(q) = Σ_w popcount(codes(w) ^ qcodes(q)(w)). A code row whose
    * word count differs from the query's fails loudly (the
    * [[SqKernels.encode]] contract): `encode` accepts any vector length,
    * so a ragged corpus would otherwise read past a shorter row's end
    * (garbage distances) or silently truncate against a longer one.
    */
  def hammingScores(codes: ArrayData, qcodes: Array[Array[Long]]): ArrayData = {
    val nw = codes.numElements()
    val out = new Array[Int](qcodes.length)
    var q = 0
    while (q < qcodes.length) {
      val qc = qcodes(q)
      if (nw != qc.length) throw new IllegalArgumentException(
        s"bq_hamming requires code rows of ${qc.length} words " +
          s"(query width), got $nw — ragged corpus widths are not comparable")
      var s = 0
      var w = 0
      while (w < qc.length) {
        s += java.lang.Long.bitCount(codes.getLong(w) ^ qc(w))
        w += 1
      }
      out(q) = s
      q += 1
    }
    new GenericArrayData(out)
  }
}

object BqExpr {
  /** codes = bq_encode(vec): array<long> of ⌈d/64⌉ sign-bit words. */
  def encode(v: Column): Column =
    KernelCall.column("bq_encode", BqKernels, "encode", ArrayType(LongType, containsNull = false),
      Seq(v -> KernelCall.FloatVec))

  /** dists = bq_hamming(codes): array<int>, one Hamming distance per query. */
  def hamming(codes: Column, qcodes: Array[Array[Long]]): Column =
    KernelCall.column("bq_hamming", BqKernels, "hammingScores",
      ArrayType(IntegerType, containsNull = false), Seq(codes -> "array<bigint>"), qcodes)
}
