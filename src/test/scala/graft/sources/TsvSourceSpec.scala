package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The TSV source returns exactly what the csv reader with quoting
  * disabled plus `na.fill("")` returned — the expression GeoNames read its
  * staging with before — kept here only as the oracle.
  */
class TsvSourceSpec extends SparkSpec {

  private val schema = StructType((0 until 6).map(i => StructField(s"c$i", StringType)))

  private def oracle(path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("quote", "\u0000")
      .schema(schema)
      .csv(path)
      .na.fill("", schema.fieldNames)

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Lines of every shape the source must agree on, joined by a mix of
    * LF, CRLF and CR endings, with no break after the last one.
    */
  private lazy val path: String = {
    val out = new ByteArrayOutputStream()
    def line(parts: Array[Byte]*)(end: String): Unit = {
      parts.foreach(out.write)
      out.write(utf8(end))
    }
    val lines: Seq[(Seq[Array[Byte]], String)] = Seq(
      Seq(utf8("1\tplain\tP\tPPL\tUS\t0")) -> "\n",
      Seq(utf8("2\tshort")) -> "\n",                                   // missing trailing fields
      Seq(utf8("3")) -> "\r\n",
      Seq(utf8("4\tlong\tP\tPPL\tUS\t0\textra\tfields\t\t\tpast the schema")) -> "\r\n",
      Seq(utf8("")) -> "\n",                                           // blank line
      Seq(utf8("")) -> "\r\n",                                         // blank CRLF line
      Seq(utf8(" ")) -> "\n",                                          // blank: spaces,
      Seq(utf8("\t\t")) -> "\n",                                       // tabs and control
      Seq(utf8(" \t\u000b")) -> "\r\n",                                 // characters only
      Seq(utf8(" x")) -> "\n",                                         // not blank
      Seq(utf8("15\tcr\tonly")) -> "\r",                               // old Mac ending
      Seq(utf8("5\t\"quoted\"\ta\"b\t\\\tback\\slash\\\t\"")) -> "\n", // literal " and \
      Seq(utf8("6\t\t\t\t\t")) -> "\n",                                // all empty
      Seq(utf8("\t\tno id\t\t\t")) -> "\n",
      Seq(utf8("7\tZürich\tСанкт-Петербург\t東京\t🗺️\tçà")) -> "\r\n",  // non-ASCII
      Seq(utf8(" 8 \t padded \t\t")) -> "\n",                          // whitespace is data
      Seq(utf8("9\t"), Array.fill(5000)('x'.toByte), utf8("\tafter\tP")) -> "\n",
      // invalid UTF-8: a stray byte, a truncated 3-byte sequence, an
      // overlong '/', an encoded surrogate, a 4-byte sequence cut off by
      // a tab, and a field with a bad byte next to a good field
      Seq(utf8("10\ta"), Array(0xff.toByte), utf8("b\t"), Array(0xe2.toByte, 0x82.toByte),
        utf8("\t"), Array(0xc0.toByte, 0xaf.toByte), utf8("\t"),
        Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), utf8("\t"),
        Array(0xf0.toByte, 0x9f.toByte, 0x98.toByte), utf8("\tok")) -> "\n",
      Seq(utf8("11\tüber\t"), Array(0x80.toByte), utf8("\tP")) -> "\n",
      Seq(utf8("12\tlast\tline\twithout\ta\tbreak")) -> "")
    lines.foreach { case (parts, end) => line(parts: _*)(end) }
    val dir = Files.createTempDirectory("tsv-source").toFile
    Files.write(dir.toPath.resolve("part-0.tsv"), out.toByteArray)
    // a second file so a directory read spans files
    Files.write(dir.toPath.resolve("part-1.tsv"), utf8("13\tsecond\tfile\n14\n\n"))
    dir.getAbsolutePath
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  test("TSV source returns the csv reader's rows on every line shape") {
    val got = rows(TsvFileFormat.read(spark, path, schema))
    got shouldBe rows(oracle(path))
    got.size shouldBe 17 // the non-blank lines of both files
    assert(got.flatten.forall(_ != null))
  }

  test("invalid UTF-8 decodes to U+FFFD exactly as the JDK decoder does") {
    def jdk(bytes: Int*): String = new String(bytes.map(_.toByte).toArray, StandardCharsets.UTF_8)
    val bad = TsvFileFormat.read(spark, path, schema).where(col("c0") === "10").head()
    bad.toSeq.drop(1) shouldBe Seq("a\uFFFDb", jdk(0xe2, 0x82), jdk(0xc0, 0xaf),
      jdk(0xed, 0xa0, 0x80), jdk(0xf0, 0x9f, 0x98))
    bad.toSeq.drop(1).foreach(_.toString should include("\uFFFD"))
    TsvFileFormat.read(spark, path, schema).where(col("c0") === "11").head()
      .toSeq shouldBe Seq("11", "über", "\uFFFD", "P", "", "")
  }

  test("a file split into several tasks reads every line once") {
    val before = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    val beforeOpen = spark.conf.getOption("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try {
      val df = TsvFileFormat.read(spark, path, schema)
      df.rdd.getNumPartitions should be > 10
      rows(df) shouldBe rows(oracle(path))
    } finally {
      before.fold(spark.conf.unset("spark.sql.files.maxPartitionBytes"))(
        spark.conf.set("spark.sql.files.maxPartitionBytes", _))
      beforeOpen.fold(spark.conf.unset("spark.sql.files.openCostInBytes"))(
        spark.conf.set("spark.sql.files.openCostInBytes", _))
    }
  }

  test("a two-column read prunes the scan and returns the same values") {
    val df = TsvFileFormat.read(spark, path, schema).select(col("c4"), col("c1"))
    df.queryExecution.executedPlan.toString should include("ReadSchema: struct<c1:string,c4:string>")
    rows(df) shouldBe rows(oracle(path).select(col("c4"), col("c1")))
    TsvFileFormat.read(spark, path, schema).count() shouldBe oracle(path).count()
  }

  test("the source is read-only and needs a schema") {
    val df = spark.range(1).select(col("id").cast("string").as("c0"))
    an[Exception] should be thrownBy
      df.write.format(classOf[TsvFileFormat].getName).save(path + "-out")
    an[Exception] should be thrownBy
      spark.read.format(classOf[TsvFileFormat].getName).load(path).collect()
  }

  test("the rows carry no nulls even where the oracle's raw csv read does") {
    val raw = spark.read.option("sep", "\t").option("quote", "\u0000").schema(schema).csv(path)
    raw.where(col("c5").isNull).count() should be > 0L
    TsvFileFormat.read(spark, path, schema).where(col("c5").isNull).count() shouldBe 0L
    TsvFileFormat.read(spark, path, schema).where(col("c0") === "2").head() shouldBe
      Row("2", "short", "", "", "", "")
  }
}
