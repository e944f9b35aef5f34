package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for the 100 TB tier: partitioned directories for
  * coarse pruning, bucketed tables for shuffle-free co-located joins,
  * and compaction sizing.
  *
  * The reference materializes plain files between steps (geonames.js:224,
  * 230, `dirs.previous` → `dirs.current`); at scale the materialization
  * layer IS the query accelerator:
  *   - partitionBy(k) → static + dynamic partition pruning prune entire
  *     directories before any I/O (e.g. GeoNames bronze partitioned by
  *     countryCode: a one-country query touches 1/250 of the data).
  *   - bucketBy(n, k) → both sides of a recurring equi-join pre-hashed
  *     into the same bucket layout join with ZERO shuffle.
  *   - repartition before write → bounded file counts (the many-small-
  *     files problem kills the driver's file index at 100 TB).
  */
object Layout {

  /** Write partitioned parquet: one directory level per partition column.
    * `targetFilesPerPartition` bounds file count (small-files discipline).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       targetFilesPerPartition: Int = 1): Unit =
    df.repartition(targetFilesPerPartition, partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Persist as a bucketed table (bucket layout only exists for tables,
    * not bare files). Joins between tables bucketed the same way on the
    * join key skip the shuffle entirely. The table is managed, or external
    * at `location` when one is given: a managed table's warehouse
    * directory outlives an in-memory catalog, so a process that re-creates
    * the table under a fresh catalog would hit LOCATION_ALREADY_EXISTS.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCol: Option[String] = None,
                    location: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
    val sorted = sortCol.fold(w)(w.sortBy(_))
    location.fold(sorted)(sorted.option("path", _)).saveAsTable(table)
  }

  /** Compact a parquet directory to bounded-size output files — the
    * maintenance pass every long-lived 100 TB table needs (streaming
    * sinks and partitioned appends accrete small files until the
    * driver's file listing and the per-file open cost dominate scans).
    *
    * File count = ceil(inputBytes / targetFileBytes), estimated from the
    * source files' on-disk footprint (parquet→parquet round-trips keep
    * roughly the same encoded size, so the on-disk total is the honest
    * estimator — no sampling pass, no decode). Round-robin repartition
    * spreads rows evenly regardless of input skew; `sortCols` optionally
    * re-establishes a clustering (range-partition + in-file sort — the
    * min-max-stats discipline of [[writeZordered]]) so compaction can
    * simultaneously restore scan pruning that append order destroyed.
    *
    * Writes to `outPath` (caller swaps directories atomically; never
    * compact in place — a failed overwrite of the live path loses data).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0, s"targetFileBytes $targetFileBytes")
    val df = spark.read.parquet(inPath)
    val inputBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((inputBytes + targetFileBytes - 1) / targetFileBytes)
      .min(BigInt(Int.MaxValue)).toInt.max(1)
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    shaped.write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** Write parquet laid out along a Z-order (Morton) curve over two
    * numeric columns: each column is quantized to a 16-bit rank over its
    * [min, max] range, the ranks bit-interleave into one key
    * ([[graft.functions.ZorderExpr]]), and files are range-partitioned +
    * sorted by it. Every file then covers a tight rectangle in BOTH
    * dimensions, so parquet min-max stats prune 2-d range predicates at
    * row-group granularity — single-column sorting can only ever prune
    * one of the two. The min/max pre-pass is one cheap aggregate (at
    * 100 TB: use sketched bounds or static domain knowledge instead).
    */
  def writeZordered(df: DataFrame, xCol: String, yCol: String, path: String,
                    numFiles: Int = 8): Unit = {
    val r = df.agg(min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
    val (xMin, xMax, yMin, yMax) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    def rank(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lo) / (hi - lo) * 65535.0).cast("long")
    val zkey = graft.functions.ZorderExpr.zorderKey(
      rank(xCol, xMin, xMax), rank(yCol, yMin, yMax))
    df.withColumn("_z", zkey)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
