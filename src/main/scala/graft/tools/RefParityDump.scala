package graft.tools

import graft.geonames.GeoNames

/** Engine half of the FULL-DUMP real-reference parity run
  * (tools/refparity/fulldump.py): stage a GeoBench-shaped dump of
  * `rows` TSV rows, run the engine transform with the EXACT GeoBench
  * config (25-country filters, {PPL,ADM,S} prefix types), and leave the
  * unsorted NDJSON parts under `<workDir>/out` for the external sort +
  * byte-compare against the verbatim reference (geonames.js steps[1]
  * over the refparity shims, run on the SAME staged files).
  *
  * `admin2Mode`:
  *   - `complete` — admin2 dimension covers B0..B99, every 3-truthy row
  *     resolves: the staging the verbatim reference can survive, so the
  *     full 8M-row byte-parity is possible (4,000,000 records).
  *   - `original` — GeoBench's exact partial cover (~⅔ of candidate
  *     relations have no admin2 key): the reference's own
  *     `parentObj.geonameid` (geonames.js:107) throws on the FIRST such
  *     row, which the python side pins as the dump-scale form of the
  *     documented SURVEY §1.4 drop deviation (engine emits 3,346,671
  *     records here — the pinned GeoBench counts).
  *
  * Usage: RefParityDump <rows> <workDir> <complete|original>
  * Prints one JSON line {rows, mode, engine_lines, stage_sec, sec}.
  */
object RefParityDump {
  def main(args: Array[String]): Unit = {
    val rows = args(0).toLong
    val work = args(1)
    val mode = args(2)
    require(mode == "complete" || mode == "original", s"mode $mode")
    val spark = ToolSession()

    val stage = s"$work/stage"
    val t0 = System.nanoTime()
    GeoBench.writeStaging(spark, rows, stage, ToolSession.cpus,
      admin2Complete = mode == "complete")
    val stageSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val places = GeoNames.readAllCountries(spark, s"$stage/ac")
    val a1 = GeoNames.readAdminCodes(spark, s"$stage/admin1CodesASCII.txt")
    val a2 = GeoNames.readAdminCodes(spark, s"$stage/admin2Codes.txt")
    GeoNames.envelopes(places, a1, a2, GeoBench.config)
      .write.mode("overwrite").text(s"$work/out")
    val sec = (System.nanoTime() - t1) / 1e9
    val n = spark.read.text(s"$work/out").count()
    println(s"""{"rows":$rows,"mode":"$mode","engine_lines":$n,"stage_sec":$stageSec,"sec":$sec}""")
    spark.stop()
  }
}
