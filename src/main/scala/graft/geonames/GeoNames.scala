package graft.geonames

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.KernelCall
import graft.operators.{PrefixMatch, TemplateFilters}
import graft.sources.TsvFileFormat

/** GeoNames domain pipeline — the reference's `transform` step
  * (geonames.js:223–254) re-expressed as a single declarative Spark plan.
  *
  * Fidelity notes (SURVEY.md §1.4):
  *   - Filter: OR of conjunctive-equality templates, with the extra-URI
  *     whitelist disjunct *inside* the per-template evaluation — so an
  *     empty template list passes nothing, whitelist included
  *     (geonames.js:180–182, 243–245).
  *   - Classification: longest-prefix match of `featureCode` against
  *     `config.types`; unmatched rows are dropped (geonames.js:129–134).
  *   - Relations: emitted only for typed rows whose 5 admin-key values
  *     (country, admin1..4) have exactly 3 truthy entries — keyed by the
  *     truthy values joined with '.', probed into the admin2 dimension;
  *     if the parent is the row itself, re-probed into admin1 on the
  *     first 2 values (geonames.js:100–123).
  *   - DOCUMENTED DEVIATION: the reference crashes on a missing admin2
  *     key (`parentObj.geonameid` on undefined, geonames.js:107); we
  *     left-join and drop relations with no resolvable parent.
  *   - Output: NDJSON envelopes {type: 'pit'|'relation', obj} with the
  *     reference's exact field order (geonames.js:137–170).
  *   - DOCUMENTED DEVIATION: the reference's LINE order equals input
  *     file order (strictly sequential writer, geonames.js:249–250); a
  *     distributed sink writes partition-parallel, so line order is not
  *     guaranteed. NDJSON consumers (the Histograph importer) treat
  *     records independently; order-sensitive consumers should sort on
  *     `obj.uri`.
  *
  * Scale design: both admin dimensions are broadcast (≈100k rows total at
  * full GeoNames scale), each built by one scan task with no shuffle; the
  * main table is never shuffled and is scanned once. The fact side — scan
  * → filter → classify → 2 broadcast left joins → project pit and relation
  * JSON → explode → drop null lines — is one whole-stage-codegen pipeline,
  * map-only over the 8M-row (or 100 TB) dump: every per-row step is a
  * built-in Catalyst expression that generates code (no higher-order
  * lambda, no regex), and the country filter is one hash-set probe.
  */
object GeoNames {

  val baseUri = "http://sws.geonames.org/"
  val baseUrl = "http://download.geonames.org/export/dump/"

  /** geonames.js:24–44. All strings at the bronze layer (SURVEY §1.2);
    * typed projections happen downstream so a malformed row can never
    * fail the scan under ANSI mode. Both dump schemas are read with
    * [[TsvFileFormat]]: GeoNames files are unquoted, so a stray '"' is data
    * and never glues lines together, and empty or missing fields read as
    * "" (not null) to mirror JS `R.zipObj` semantics: present-but-empty,
    * falsy for truthiness checks, serialized as "".
    */
  val allCountriesSchema: StructType = StructType(Seq(
    "geonameid", "name", "asciiname", "alternatenames", "latitude",
    "longitude", "featureClass", "featureCode", "countryCode", "cc2",
    "admin1Code", "admin2Code", "admin3Code", "admin4Code", "population",
    "elevation", "dem", "timezone", "modificationDate")
    .map(StructField(_, StringType)))

  /** geonames.js:46–51. */
  val adminCodesSchema: StructType = StructType(Seq(
    "code", "name", "asciiname", "geonameid").map(StructField(_, StringType)))

  private val adminKeys =
    Seq("countryCode", "admin1Code", "admin2Code", "admin3Code", "admin4Code")
  private val dataFields =
    Seq("featureClass", "featureCode", "countryCode", "cc2",
      "admin1Code", "admin2Code", "admin3Code", "admin4Code")

  /** @param filters    OR-of-equality templates (geonames.js:243–245)
    * @param types      featureCode-prefix → output type map (geonames.js:129–132)
    * @param liesIn     relation type label (config.relations.liesIn)
    * @param extraUris  full-URI whitelist; ids are extracted by stripping
    *                   [[baseUri]] (geonames.js:232–237)
    */
  case class Config(
    filters: Seq[Map[String, String]],
    types: Map[String, String],
    liesIn: String = "hg:liesIn",
    extraUris: Seq[String] = Nil)

  // ------------------------------------------------------------- readers

  /** Main table scan; drops blank lines and rows with an empty id (the
    * reference passes blank trailing lines to its filter and drops them
    * there — same end state).
    */
  def readAllCountries(spark: SparkSession, path: String): DataFrame =
    TsvFileFormat.read(spark, path, allCountriesSchema)
      .where(length(col("geonameid")) > 0)

  /** Admin-code dimension with the reference's last-write-wins on
    * duplicate codes (geonames.js:75–77 overwrites the map entry): keep
    * the row with the highest file position per code. `_pos` is assigned
    * per input split, before the splits are coalesced into one task, and
    * that task deduplicates: the aggregate needs no shuffle, and the
    * dimension costs one job. One task is enough because the dimension is
    * broadcast, so it must fit on one node anyway (at full GeoNames scale
    * `admin2Codes.txt` is a single split).
    */
  def readAdminCodes(spark: SparkSession, path: String): DataFrame = {
    val raw = TsvFileFormat.read(spark, path, adminCodesSchema)
      .where(length(col("code")) > 0)
      .withColumn("_pos", monotonically_increasing_id())
      .coalesce(1)
    raw.groupBy(col("code"))
      .agg(max_by(col("geonameid"), col("_pos")).as("geonameid"))
  }

  // ----------------------------------------------------------- transform

  /** Truthy admin-code values in key order (JS `R.filter(R.identity,
    * R.values(R.pick(adminKeys, obj)))`, geonames.js:103). Null and ""
    * are both falsy; coalescing null to "" lets one `array_remove` drop
    * them.
    */
  private def truthyAdminCodes: Column =
    array_remove(array(adminKeys.map(k => coalesce(col(k), lit(""))): _*), "")

  /** The filtered, classified core: input rows + `type` column, untyped
    * rows dropped. Shared by pits and relations (relations are derived
    * only from typed rows — getRelations runs inside the `if (type)`
    * branch, geonames.js:165).
    */
  def classified(places: DataFrame, config: Config): DataFrame =
    typed(places, config).where(col("type").isNotNull)

  /** Template-filtered input rows + `type`, null where no prefix matches. */
  private def typed(places: DataFrame, config: Config): DataFrame = {
    val ids = config.extraUris.map(_.replace(baseUri, ""))
    places
      .where(TemplateFilters.anyTemplateOrIds(
        config.filters.map(_.toMap[String, Any]), col("geonameid"), ids))
      .withColumn("type", PrefixMatch.classify(col("featureCode"), config.types))
  }

  /** `js_number_string(double) -> string`: the [[JsNum.render]] kernel,
    * so the NDJSON sink's per-coordinate rendering stays inside
    * whole-stage codegen instead of paying a Scala-UDF encode/decode
    * boundary.
    */
  def jsNumberString(d: Column): Column =
    KernelCall.column("js_number_string", JsNum, "renderUtf8", StringType, Seq(d -> "double"))

  private def jsNum(c: Column): Column = coalesce(jsNumberString(c), lit("null"))

  /** The pit's leading fields `uri`, `name`, `type` (geonames.js:137–140). */
  private def pitHead: Seq[Column] = Seq(
    concat(lit(baseUri), col("geonameid")).as("uri"),
    col("name"),
    col("type"))

  /** `[longitude, latitude]` as pre-rendered JS-style number strings.
    * try_cast, not cast: the reference's parseFloat("") is NaN (→ JSON
    * null), where the ANSI cast would abort the whole job on one empty
    * field. (parseFloat's prefix-parse of garbage like "3.5abc" is NOT
    * mirrored — no such values exist in GeoNames dumps, and silently
    * truncating them is worse than a null.)
    */
  private def coordinates: Seq[Column] =
    Seq(jsNum(expr("try_cast(longitude as double)")), jsNum(expr("try_cast(latitude as double)")))

  private def pitData: Column = struct(dataFields.map(col): _*).as("data")

  /** Place-In-Time fields with the reference's exact nested shape and
    * field order (geonames.js:137–158), over a classified row. The
    * coordinates are the rendered number strings.
    */
  private def pitFields: Seq[Column] = pitHead ++ Seq(
    struct(lit("Point").as("type"), array(coordinates: _*).as("coordinates")).as("geometry"),
    pitData)

  /** liesIn edge fields (geonames.js:116–120) over a row with `_parent`. */
  private def relationFields(config: Config): Seq[Column] = Seq(
    concat(lit(baseUri), col("geonameid")).as("from"),
    concat(lit(baseUri), col("_parent")).as("to"),
    lit(config.liesIn).as("type"))

  /** `{"type":"pit","obj":{...}}` (geonames.js:160–163), concatenated from
    * fragments: the JSON of the leading fields with its closing brace
    * trimmed, the geometry with the rendered coordinates spliced in as bare
    * numbers, then the JSON of `data`. Jackson still escapes every string
    * value. The trim removes exactly one `}`: the last leading field,
    * `type`, is a non-null string, so its closing quote precedes the brace.
    */
  private def pitJson: Column = {
    val Seq(lon, lat) = coordinates
    concat(
      lit("{\"type\":\"pit\",\"obj\":"),
      rtrim(to_json(struct(pitHead: _*)), "}"),
      lit(",\"geometry\":{\"type\":\"Point\",\"coordinates\":["), lon, lit(","), lat,
      lit("]},\"data\":"), to_json(pitData),
      lit("}}"))
  }

  /** `{"type":"relation","obj":{...}}` (geonames.js:165–169). */
  private def relationJson(config: Config): Column =
    to_json(struct(lit("relation").as("type"), struct(relationFields(config): _*).as("obj")))

  /** Place-In-Time records (geonames.js:137–158), keyed by `geonameid`. */
  def pits(places: DataFrame, config: Config): DataFrame =
    classified(places, config).select(col("geonameid") +: pitFields: _*)

  /** Classified rows plus `_parent`, the geonameid of each row's liesIn
    * parent (geonames.js:100–123), or null when the row has none. Only rows
    * with exactly 3 truthy admin codes get probe keys: `_k2` (all three,
    * '.'-joined) into admin2 and `_k1` (the first two) into admin1, whose
    * id is the parent when the admin2 parent is the row itself. Both
    * dimension joins are broadcast LEFT joins, so every row survives
    * exactly once provided each dimension's `code` is unique (as
    * [[readAdminCodes]] guarantees); an unresolvable parent is null (see
    * DEVIATION above).
    */
  private def withParent(typed: DataFrame, admin1: DataFrame, admin2: DataFrame): DataFrame = {
    val keyed = typed
      .withColumn("_codes", truthyAdminCodes)
      .withColumn("_codes", when(size(col("_codes")) === 3, col("_codes")))
      .withColumn("_k2", array_join(col("_codes"), "."))
      .withColumn("_k1", array_join(slice(col("_codes"), 1, 2), "."))
    val a2 = broadcast(admin2.select(col("code").as("_k2"), col("geonameid").as("_p2")))
    val a1 = broadcast(admin1.select(col("code").as("_k1"), col("geonameid").as("_p1")))
    keyed.join(a2, Seq("_k2"), "left").join(a1, Seq("_k1"), "left")
      .withColumn("_parent",
        when(col("_p2") === col("geonameid"), col("_p1")).otherwise(col("_p2")))
  }

  /** liesIn edges (geonames.js:100–123): exactly-3-truthy admin codes,
    * admin2 probe with admin1 fallback when the parent is the row itself.
    * Both dimension joins are broadcast; unresolvable parents are dropped
    * (see DEVIATION above).
    */
  def relations(places: DataFrame, admin1: DataFrame, admin2: DataFrame,
                config: Config): DataFrame =
    withParent(classified(places, config), admin1, admin2)
      .where(col("_parent").isNotNull)
      .select(relationFields(config): _*)

  /** Tagged NDJSON envelope stream, each line `{"type":...,"obj":{...}}`
    * (geonames.js:160–170), as one DataFrame with a single `value` string
    * column, ready for `df.write.text`. Like the reference's per-row step,
    * one pass over `places` emits each place's pit line followed directly
    * by its relation line, if it has one, so a sink writes one part file
    * per input split. Precondition: `code` is unique in both admin
    * dimensions ([[readAdminCodes]] output is); a duplicate key would
    * repeat the place's pit line.
    */
  def envelopes(places: DataFrame, admin1: DataFrame, admin2: DataFrame,
                config: Config): DataFrame =
    // the JSON is projected before the generator, and the generator is a
    // plain explode, so projection, explode and the null-line filter stay
    // in the scan's whole-stage-codegen'd stage. Untyped rows are dropped
    // by that null-line filter, not by a `type IS NOT NULL` filter: the
    // optimizer would push such a filter into the scan's Filter with the
    // classify chain inlined, evaluating the chain twice per row.
    withParent(typed(places, config), admin1, admin2)
      .select(
        when(col("type").isNotNull, pitJson).as("_pit"),
        when(col("type").isNotNull && col("_parent").isNotNull, relationJson(config)).as("_rel"))
      .select(explode(array(col("_pit"), col("_rel"))).as("value"))
      .where(col("value").isNotNull)

  /** Bronze materialization of the main table, partitioned by country —
    * at full GeoNames scale (or 100 TB) partition pruning makes a
    * one-country analysis touch ~1/250 of the data. The partition column
    * is a sanitized COPY (`country_part`) so the original `countryCode`
    * (including empty values) round-trips unchanged.
    */
  def writeBronze(places: DataFrame, path: String, filesPerPartition: Int = 1): Unit =
    graft.sources.Layout.writePartitioned(
      places.withColumn("country_part",
        when(length(col("countryCode")) > 0, col("countryCode")).otherwise(lit("NONE"))),
      path, Seq("country_part"), filesPerPartition)

  def readBronze(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("country_part")

  /** Prune-friendly one-country slice: filter on the PARTITION column so
    * pruning happens at planning time (directory-level skip).
    */
  def readBronzeCountry(spark: SparkSession, path: String, country: String): DataFrame =
    spark.read.parquet(path)
      .where(col("country_part") === country).drop("country_part")

  /** Parse an NDJSON envelope output back into typed (pits, relations)
    * frames — the inverse of [[envelopes]], for downstream consumers
    * (the Histograph importer role) and round-trip tests.
    */
  def readEnvelopes(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val pitSchema = StructType(Seq(
      StructField("uri", StringType),
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates", ArrayType(DoubleType))))),
      StructField("data", StructType(dataFields.map(StructField(_, StringType))))))
    val relSchema = StructType(Seq(
      StructField("from", StringType),
      StructField("to", StringType),
      StructField("type", StringType)))
    val raw = spark.read.text(path)
      .select(get_json_object(col("value"), "$.type").as("rec_type"), col("value"))
    val pits = raw.where(col("rec_type") === "pit")
      .select(from_json(get_json_object(col("value"), "$.obj"), pitSchema).as("o"))
      .select(col("o.*"))
    val rels = raw.where(col("rec_type") === "relation")
      .select(from_json(get_json_object(col("value"), "$.obj"), relSchema).as("o"))
      .select(col("o.*"))
    (pits, rels)
  }

  /** The full `transform` step (geonames.js:223–254): read the three
    * files from `prevDir`, write NDJSON to `outPath`.
    */
  def transform(spark: SparkSession, prevDir: String, outPath: String,
                config: Config): Unit = {
    val places = readAllCountries(spark, s"$prevDir/allCountries.txt")
    val admin1 = readAdminCodes(spark, s"$prevDir/admin1CodesASCII.txt")
    val admin2 = readAdminCodes(spark, s"$prevDir/admin2Codes.txt")
    envelopes(places, admin1, admin2, config).write.mode("overwrite").text(outPath)
  }

  /** Staged pipeline for the 100 TB tier (the `dirs.previous` →
    * `dirs.current` contract, geonames.js:224/230, with a real lakehouse
    * layer in between): TSV staging → country-partitioned parquet bronze
    * (scan once, query many — pruned, columnar, splittable) → transform.
    * Equivalent output to [[transform]]; the bronze write is the extra
    * cost that every later query amortizes.
    */
  def transformStaged(spark: SparkSession, stagingDir: String, bronzePath: String,
                      outPath: String, config: Config): Unit = {
    writeBronze(readAllCountries(spark, s"$stagingDir/allCountries.txt"), bronzePath)
    val places = readBronze(spark, bronzePath)
    val admin1 = readAdminCodes(spark, s"$stagingDir/admin1CodesASCII.txt")
    val admin2 = readAdminCodes(spark, s"$stagingDir/admin2Codes.txt")
    envelopes(places, admin1, admin2, config).write.mode("overwrite").text(outPath)
  }
}
