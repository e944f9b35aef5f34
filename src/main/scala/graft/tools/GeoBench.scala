package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geonames.GeoNames

/** GeoNames pipeline throughput harness: generates an N-row synthetic
  * allCountries extract (deterministic, GeoNames-shaped, ~125 B/row)
  * plus admin-code dimensions, runs the full transform (filter →
  * classify → pit and relation envelopes → NDJSON), and prints one
  * JSON line with rows/sec. The reference processes the real dump strictly
  * sequentially, one row at a time (geonames.js:249–252) and publishes
  * no timings; this gives our side a measured number at the same
  * workload shape.
  *
  * A third argument > 0 adds an untimed PROXY-EQUIVALENCE pass: a
  * deterministic sample staging of that many rows (the generator is
  * pure in `rows`, so an M-row sample is exactly the first M ids of the
  * full staging) is run through BOTH the Spark pipeline and
  * `tools/reference_proxy.js` (the single-threaded reference-semantics
  * baseline), and every emitted pit and relation is compared
  * field-by-field (1e-9 on coordinates) with a distributed full-outer
  * join — scale and fidelity in one run, zero driver-side row handling.
  *
  *   sbt "runMain graft.tools.GeoBench [rows] [workDir] [proxySampleRows]"
  */
object GeoBench {

  private val countries = (0 until 50).map(i => f"C$i%02d")
  private val fcodes = Seq("PPL", "PPLA", "ADM1", "ADM2", "ADM2H", "STM", "XYZ", "ZZZ")

  /** Deterministic GeoNames-shaped staging: `rows` TSV place rows under
    * `stage/ac` plus the two admin-code dimension files. Pure in
    * (rows, cpus) — the same ids produce byte-identical lines.
    *
    * `admin2Complete` switches the admin2 dimension from the default
    * 34-key partial cover (multiples of 3 — ~⅔ of 3-truthy rows have an
    * UNRESOLVABLE admin2 key, exercising the engine's documented
    * drop-the-relation deviation) to a complete B0..B99 cover where
    * every 3-truthy row resolves. The complete variant exists for the
    * full-dump REAL-reference parity run ([[RefParityDump]]): the
    * verbatim reference CRASHES on the first unresolvable key
    * (geonames.js:107 TypeError), so byte-parity at dump scale needs a
    * staging the reference itself can survive; the partial variant then
    * pins that crash at dump scale.
    */
  private[tools] def writeStaging(spark: SparkSession, rows: Long, stage: String,
                                  cpus: Int, admin2Complete: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(stage))
    val place = spark.range(rows).select(concat_ws("\t",
      (col("id") + 1000).cast("string"),                        // geonameid
      concat(lit("Place "), col("id")),                         // name
      concat(lit("Place "), col("id")),                         // asciiname
      lit(""),                                                  // alternatenames
      (pmod(col("id") * 7, lit(180)) - 90).cast("string"),   // lat
      (pmod(col("id") * 13, lit(360)) - 180).cast("string"), // lon
      lit("P"),
      element_at(typedLit(fcodes), pmod(col("id"), lit(fcodes.size)).cast("int") + 1),
      element_at(typedLit(countries), pmod(col("id"), lit(50)).cast("int") + 1),
      lit(""),
      concat(lit("A"), pmod(col("id"), lit(20))),                    // admin1
      when(pmod(col("id"), lit(3)) === 0, concat(lit("B"), pmod(col("id"), lit(100))))
        .otherwise(lit("")),                                    // admin2 (⅓ of rows)
      lit(""), lit(""), lit("0"), lit(""), lit("0"),
      lit("UTC"), lit("2024-01-01")))
    place.coalesce(cpus).write.mode("overwrite").text(s"$stage/ac")
    // single logical file path expected by transform: pass the dir
    val admin1 = for (c <- countries; a <- 0 until 20)
      yield s"$c.A$a\tAdmin1 $c$a\tAdmin1 $c$a\t${9000000 + c.hashCode.abs % 100000 + a}"
    val admin2 =
      if (admin2Complete)
        for (c <- countries; a <- 0 until 20; b <- 0 until 100)
          yield s"$c.A$a.B$b\tAdmin2\tAdmin2\t${8000000 + (c + a + b).hashCode.abs % 1000000}"
      else
        for (c <- countries; a <- 0 until 20; b <- 0 until 34)
          yield s"$c.A$a.B${(b * 3) % 100}\tAdmin2\tAdmin2\t${8000000 + (c + a + b).hashCode.abs % 1000000}"
    Files.writeString(Paths.get(s"$stage/admin1CodesASCII.txt"), admin1.mkString("\n"))
    Files.writeString(Paths.get(s"$stage/admin2Codes.txt"), admin2.mkString("\n"))
  }

  private[tools] val config = GeoNames.Config(
    filters = (0 until 25).map(i => Map("countryCode" -> f"C$i%02d")), // half the countries
    types = Map("PPL" -> "hg:Place", "ADM" -> "hg:Admin", "S" -> "hg:Spot"))

  private def runTransform(spark: SparkSession, stage: String,
                           outPath: String): Unit = {
    val places = GeoNames.readAllCountries(spark, s"$stage/ac")
    val a1 = GeoNames.readAdminCodes(spark, s"$stage/admin1CodesASCII.txt")
    val a2 = GeoNames.readAdminCodes(spark, s"$stage/admin2Codes.txt")
    GeoNames.envelopes(places, a1, a2, config)
      .write.mode("overwrite").text(outPath)
  }

  /** Field-by-field pit equivalence: full-outer join on uri, every
    * scalar field compared exactly, coordinates within 1e-9. Returns
    * the number of differing or unmatched uris (0 = identical).
    */
  private def pitDiffs(ours: DataFrame, theirs: DataFrame): Long = {
    def flat(df: DataFrame, side: String): DataFrame =
      df.select(col("uri") +: (Seq("name", "type").map(f => col(f).as(s"${side}_$f")) ++
        Seq(col("geometry.coordinates").as(s"${side}_coords")) ++
        Seq("featureClass", "featureCode", "countryCode", "cc2", "admin1Code",
          "admin2Code", "admin3Code", "admin4Code")
          .map(f => col(s"data.$f").as(s"${side}_$f"))): _*)
    val j = flat(ours, "a").join(flat(theirs, "b"), Seq("uri"), "full_outer")
    val scalarsEq = Seq("name", "type", "featureClass", "featureCode",
      "countryCode", "cc2", "admin1Code", "admin2Code", "admin3Code",
      "admin4Code").map(f => col(s"a_$f") <=> col(s"b_$f")).reduce(_ && _)
    val coordsEq = size(col("a_coords")) === 2 && size(col("b_coords")) === 2 &&
      abs(element_at(col("a_coords"), 1) - element_at(col("b_coords"), 1)) < 1e-9 &&
      abs(element_at(col("a_coords"), 2) - element_at(col("b_coords"), 2)) < 1e-9
    j.where(!(scalarsEq && coordsEq)).count()
  }

  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 2000000L
    val work = if (args.length > 1) args(1) else
      Files.createTempDirectory("geobench").toFile.getAbsolutePath
    val proxyRows = if (args.length > 2) args(2).toLong else 0L
    val cpus = ToolSession.cpus
    val spark = ToolSession()

    val stage = s"$work/stage"
    writeStaging(spark, rows, stage, cpus)

    // --- timed transform --------------------------------------------
    val t0 = System.nanoTime()
    val outPath = s"$work/out"
    runTransform(spark, stage, outPath)
    val sec = (System.nanoTime() - t0) / 1e9
    val outRows = spark.read.text(outPath).count()

    // --- untimed golden invariants on the full-dump output -----------
    // (the GeoNamesSpec contracts, spot-held at dump scale): every line
    // parses back as a typed envelope, pit uris are unique, both record
    // types are present, and every relation's `from` references an
    // emitted pit (the fallback join must never leave dangling edges).
    val (pits, rels) = GeoNames.readEnvelopes(spark, outPath)
    val nPits = pits.count()
    val nRels = rels.count()
    require(nPits > 0 && nRels > 0, s"degenerate output: $nPits pits / $nRels rels")
    require(nPits + nRels == outRows,
      s"unparseable envelope lines: $nPits + $nRels != $outRows")
    require(pits.select(col("uri")).distinct().count() == nPits,
      "duplicate pit uris")
    val dangling = rels.select(col("from").as("uri"))
      .join(pits.select(col("uri")), Seq("uri"), "left_anti").count()
    require(dangling == 0L, s"$dangling relations reference missing pits")

    // --- untimed sampled proxy equivalence ---------------------------
    val proxyJson = if (proxyRows > 0) {
      val sampleStage = s"$work/sample_stage"
      writeStaging(spark, proxyRows, sampleStage, cpus)
      val sparkOut = s"$work/sample_out"
      runTransform(spark, sampleStage, sparkOut)
      val proxyOut = s"$work/proxy_out.ndjson"
      val proc = new ProcessBuilder("node", "tools/reference_proxy.js",
        sampleStage, proxyOut).inheritIO().start()
      require(proc.waitFor() == 0, "reference_proxy.js failed")
      val (ourPits, ourRels) = GeoNames.readEnvelopes(spark, sparkOut)
      val (refPits, refRels) = GeoNames.readEnvelopes(spark, proxyOut)
      val badPits = pitDiffs(ourPits, refPits)
      // relations have no nested fields: symmetric set difference
      val badRels = ourRels.exceptAll(refRels).count() +
        refRels.exceptAll(ourRels).count()
      require(badPits == 0L, s"$badPits pit records differ from the proxy")
      require(badRels == 0L, s"$badRels relation records differ from the proxy")
      val nSample = ourPits.count() + ourRels.count()
      s""","proxy_sample_rows":$proxyRows,"proxy_compared_records":$nSample,"proxy_field_diffs":0"""
    } else ""

    // peak JVM RSS over the whole run (staging + transform + checks):
    // the kernel's high-water mark, not a heap-pool sample, so it bounds
    // off-heap (Tungsten pages, parquet buffers) too. Linux-only; absent
    // elsewhere.
    val peakRssMb = scala.util.Try {
      val vmHwm = Files.readAllLines(Paths.get("/proc/self/status"))
        .stream().filter(_.startsWith("VmHWM")).findFirst().get()
      vmHwm.split("\\s+")(1).toLong / 1024
    }.toOption
    val rssJson = peakRssMb.map(m => s""","peak_rss_mb":$m""").getOrElse("")

    println(s"""{"metric":"geonames_transform","input_rows":$rows,"output_rows":$outRows,"pits":$nPits,"relations":$nRels,"sec":$sec,"rows_per_sec":${(rows / sec).toLong},"cpus":$cpus$rssJson$proxyJson}""")
    spark.stop()
  }
}
