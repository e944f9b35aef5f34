package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

/** Z-order (Morton) curve kernel: interleave the bits of two 32-bit
  * quantized ranks into one 64-bit sort key. Sorting files by this key
  * gives every file a tight bounding box in BOTH dimensions, so parquet
  * row-group/page min-max stats prune 2-d range queries — the
  * multi-dimensional analog of sorting by a single column (which prunes
  * only that column). See [[graft.sources.Layout.writeZordered]].
  */
object ZorderKernels {

  /** Spread the low 32 bits of v so bit i lands at position 2i. */
  def spread(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Morton code of two 32-bit ranks: x bits at even positions, y odd. */
  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}

object ZorderExpr {
  def zorderKey(x: Column, y: Column): Column =
    KernelCall.column("zorder_key", ZorderKernels, "interleave", LongType,
      Seq(x -> "bigint", y -> "bigint"))
}
