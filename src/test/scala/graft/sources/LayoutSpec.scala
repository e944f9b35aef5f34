package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("US", 1L, 10.0), ("US", 2L, 20.0), ("DE", 3L, 30.0), ("FR", 4L, 40.0))
    .toDF("country", "id", "v")

  test("writePartitioned: directory-per-value; reads prune by partition filter") {
    val path = Files.createTempDirectory("layout").toFile.getAbsolutePath + "/t"
    Layout.writePartitioned(df, path, Seq("country"))
    new java.io.File(path).list().count(_.startsWith("country=")) shouldBe 3

    val q = spark.read.parquet(path).where(col("country") === "US")
    q.count() shouldBe 2
    // pruning visible in the plan: partition filter present, one dir scanned
    val plan = q.queryExecution.executedPlan.toString
    plan should include("PartitionFilters: [isnotnull(country")
  }

  test("writeBucketed + bucketed self-join plans with zero shuffle") {
    val ext = Files.createTempDirectory("layout").toFile.getAbsolutePath + "/t"
    Seq(("t_bucketed", None, "MANAGED"), ("t_bucketed_ext", Some(ext), "EXTERNAL"))
      .foreach { case (name, location, kind) =>
        Layout.writeBucketed(df, name, "id", 4, sortCol = Some("id"), location = location)
        spark.catalog.getTable(name).tableType shouldBe kind
        val t = spark.table(name)
        // hint forces SMJ (a 4-row table would broadcast); the property under
        // test is that the SMJ needs no Exchange on either bucketed side
        val joined = t.as("a").hint("merge").join(t.as("b"), "id")
        val plan = joined.queryExecution.executedPlan.toString
        plan should include("SortMergeJoin")
        (plan should not).include("Exchange") // co-located: no shuffle on either side
        joined.count() shouldBe 4
        spark.sql(s"DROP TABLE $name")
      }
    // the external table's files live at the given location and outlive the table
    new java.io.File(ext).list().count(_.endsWith(".parquet")) should be > 0
  }

  test("compact: small files collapse to ceil(bytes/target), data identical") {
    val root = Files.createTempDirectory("layout").toFile.getAbsolutePath
    val in = root + "/small"
    val out = root + "/compacted"
    // 64 tiny files of the same table — the streaming-sink accretion shape
    val big = spark.range(20000L).select(col("id"),
      md5(col("id").cast("string")).as("payload"))
    big.repartition(64).write.parquet(in)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    parquetFiles(in).length shouldBe 64
    val inBytes = parquetFiles(in).map(_.length()).sum
    // target ≈ a third of the input: expect ceil ratio, so 3-4 files
    val n = Layout.compact(spark, in, out, targetFileBytes = inBytes / 3)
    parquetFiles(out).length shouldBe n
    n should (be >= 2 and be <= 6) // ceil(estimate/target); estimate ≈ inBytes
    // lossless: exact multiset round-trip
    spark.read.parquet(out).exceptAll(big).count() shouldBe 0L
    big.exceptAll(spark.read.parquet(out)).count() shouldBe 0L
  }

  test("compact with sortCols restores range clustering: file min-max ranges are disjoint") {
    val root = Files.createTempDirectory("layout").toFile.getAbsolutePath
    val in = root + "/shuffled"
    val out = root + "/clustered"
    // append-order-destroyed clustering: ids shuffled across 16 files
    spark.range(8000L).select(col("id"), md5(col("id").cast("string")).as("p"))
      .repartition(16).write.parquet(in)
    val inBytes = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    Layout.compact(spark, in, out, targetFileBytes = inBytes / 4,
      sortCols = Seq("id"))
    // every output file covers a contiguous, non-overlapping id range —
    // the property parquet min-max pruning needs
    val ranges = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("id")), max(col("id"))).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    ranges.length should be >= 2
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => hi should be < lo2
      case _ =>
    }
  }

  test("zorder kernel: interleaved bits, monotone in each dimension at fixed other") {
    import graft.functions.ZorderKernels._
    interleave(0L, 0L) shouldBe 0L
    interleave(1L, 0L) shouldBe 1L         // x at even bit positions
    interleave(0L, 1L) shouldBe 2L         // y at odd
    interleave(3L, 3L) shouldBe 15L
    interleave(0xffffffffL, 0xffffffffL) shouldBe -1L // all 64 bits set
    // fixing y, growing x grows the key (and vice versa)
    val k1 = interleave(100L, 7L); val k2 = interleave(200L, 7L)
    (k2 > k1) shouldBe true
  }

  /** Rows surviving parquet row-group/page pruning = the scan node's
    * output-rows metric (the row-level residual filter sits above it).
    */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .filter(_.nodeName.toLowerCase.contains("scan"))
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("writeZordered: 2-d box predicate prunes row groups that a random layout cannot") {
    // 40k points on a 200×200 grid, deterministic pseudo-random order
    val pts = spark.range(40000L).select(
      pmod(xxhash64(col("id")), lit(200)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(200)).as("y"),
      col("id").as("v"))
    val base = Files.createTempDirectory("zorder").toFile.getAbsolutePath
    pts.repartition(16).write.parquet(s"$base/random")
    Layout.writeZordered(pts, "x", "y", s"$base/zordered", numFiles = 16)
    val box = (d: org.apache.spark.sql.DataFrame) =>
      d.where(col("x").between(20, 39) && col("y").between(140, 159))
    val exact = box(spark.read.parquet(s"$base/random")).count()
    box(spark.read.parquet(s"$base/zordered")).count() shouldBe exact
    val randScanned = scannedRows(box(spark.read.parquet(s"$base/random")))
    val zScanned = scannedRows(box(spark.read.parquet(s"$base/zordered")))
    // random layout: every row group's min/max spans the whole grid → no
    // pruning. Z-order: the 1% box overlaps only a few curve segments.
    randScanned shouldBe 40000L
    zScanned.toDouble should be < randScanned.toDouble / 3
  }
}
