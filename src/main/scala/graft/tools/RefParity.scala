package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.geonames.GeoNames

/** Engine half of the real-reference parity check
  * (tools/refparity/refparity.py): run [[GeoNames.transform]] on a
  * staged fixture dir with the same config the node runner hands the
  * actual reference (/root/reference/geonames.js steps[1] via
  * tools/refparity/run_reference.js), and write the output as ONE
  * sorted NDJSON file for a byte compare.
  *
  * Usage: RefParity <fixtureDir> <outFile> [nofilters]
  */
object RefParity {
  def main(args: Array[String]): Unit = {
    val fixtureDir = args(0)
    val outFile = args(1)
    val mode = if (args.length > 2) args(2) else "default"
    val spark = ToolSession(4)
    val config = GeoNames.Config(
      filters =
        if (mode == "nofilters") Nil else Seq(Map("countryCode" -> "US")),
      types =
        Map("PPL" -> "hg:Place", "ADM2" -> "hg:Municipality", "S" -> "hg:Spot"),
      liesIn = "hg:liesIn",
      extraUris = Seq("http://sws.geonames.org/1006"))
    val tmp = Files.createTempDirectory("refparity").toString + "/out"
    GeoNames.transform(spark, fixtureDir, tmp, config)
    val lines = spark.read.text(tmp).collect().map(_.getString(0)).sorted
    val body = if (lines.isEmpty) "" else lines.mkString("\n") + "\n"
    Files.write(Paths.get(outFile), body.getBytes(StandardCharsets.UTF_8))
    println(s"[refparity] engine wrote ${lines.length} lines to $outFile")
    spark.stop()
  }
}
