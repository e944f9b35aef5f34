package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriterFactory,
  PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Read-only source for unquoted tab-separated text (the GeoNames dump
  * files, geonames.js:24–51): every column is a string, addressed by
  * position in the caller's schema.
  *
  * Each line is split on tab bytes and only the required columns are
  * copied, as raw bytes, from the line buffer into the output row — no
  * decode to `java.lang.String`, no per-field object, no quote or escape
  * handling (a literal `"` or `\` is data). Semantics, pinned against the
  * csv reader with quoting disabled plus `na.fill("")` (TsvSourceSpec):
  *   - `\n`, `\r\n` and `\r` all end a line; a blank line — no byte
  *     above 0x20, so empty or only spaces, tabs and control characters
  *     (the csv reader's `trim.nonEmpty` test) — yields no row;
  *   - an empty field, and a field missing past the end of a short line,
  *     reads as `""`, never null; fields past the schema are ignored;
  *   - a field that is not valid UTF-8 is decoded as the JDK decodes it,
  *     each malformed sequence becoming U+FFFD.
  * Splittable when uncompressed, like the `text` source it is built on
  * (a split starts at the first line break past its offset).
  */
class TsvFileFormat extends TextBasedFileFormat {

  override def toString: String = "TSV"

  override def supportDataType(dataType: DataType): Boolean = dataType.isInstanceOf[StringType]

  /** No inference: the caller always passes the positional schema. */
  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = None

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("the TSV source is read-only")

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val ordinals = requiredSchema.fieldNames.map(dataSchema.fieldIndex)
    (file: PartitionedFile) => {
      val lines = new HadoopFileLinesReader(file, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      val split = new TsvFileFormat.LineSplitter(ordinals)
      lines.filterNot(line => TsvFileFormat.blank(line.getBytes, line.getLength))
        .map(line => split(line.getBytes, line.getLength))
    }
  }

  /** The reader's rows are already `UnsafeRow`s: without partition columns
    * there is nothing to append, so skip the default per-row projection.
    */
  override def buildReaderWithPartitionValues(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    if (partitionSchema.isEmpty)
      buildReader(spark, dataSchema, partitionSchema, requiredSchema, filters, options, hadoopConf)
    else super.buildReaderWithPartitionValues(spark, dataSchema, partitionSchema,
      requiredSchema, filters, options, hadoopConf)
}

object TsvFileFormat {

  /** Scan `path` (a file or a directory of part files) with `schema`, whose
    * fields must all be strings.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.format(classOf[TsvFileFormat].getName).schema(schema).load(path)

  /** True when no byte of the line is above 0x20; stops at the first one
    * that is, so a data line costs one comparison.
    */
  private def blank(buf: Array[Byte], len: Int): Boolean = {
    var i = 0
    while (i < len && (buf(i) & 0xff) <= 0x20) i += 1
    i == len
  }

  /** Writes the required columns of one line into a reused row.
    * `ordinals(k)` is the line field that becomes output column `k`.
    */
  private final class LineSplitter(ordinals: Array[Int]) {
    // output column of each line field up to the last one required, or -1
    private val slot = Array.fill(if (ordinals.isEmpty) 0 else ordinals.max + 1)(-1)
    ordinals.zipWithIndex.foreach { case (f, k) => slot(f) = k }
    private val starts = new Array[Int](ordinals.length)
    private val ends = new Array[Int](ordinals.length)
    private val writer = new UnsafeRowWriter(ordinals.length)

    def apply(buf: Array[Byte], len: Int): InternalRow = {
      java.util.Arrays.fill(starts, 0)
      java.util.Arrays.fill(ends, 0) // a field the line does not reach stays ""
      var field = 0
      var start = 0
      var i = 0
      var high = 0 // OR of the scanned bytes: negative iff one is non-ASCII
      while (field < slot.length && i <= len) {
        if (i == len || buf(i) == '\t') {
          val k = slot(field)
          if (k >= 0) { starts(k) = start; ends(k) = i }
          field += 1
          start = i + 1
        } else high |= buf(i)
        i += 1
      }
      writer.reset()
      writer.zeroOutNullBytes()
      var k = 0
      while (k < starts.length) {
        val n = ends(k) - starts(k)
        if (high >= 0 || UTF8String.fromBytes(buf, starts(k), n).isValid)
          writer.write(k, buf, starts(k), n)
        else
          writer.write(k, UTF8String.fromString(new String(buf, starts(k), n, StandardCharsets.UTF_8)))
        k += 1
      }
      writer.getRow
    }
  }
}
