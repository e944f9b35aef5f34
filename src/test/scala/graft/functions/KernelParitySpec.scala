package graft.functions

import graft.SparkSpec
import graft.geonames.GeoNames
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Every native kernel returns the same rows through generated code as
  * through interpreted `eval`: null, empty and ordinary inputs, with
  * `array<float>` and `array<double>` vectors. The codegen mode disables
  * the interpreted fallback, so a compile error fails instead of hiding;
  * the interpreted mode turns off whole-stage codegen and the projection
  * factories. The fixture sits behind an exchange, so the optimizer
  * cannot fold the projection over a local relation (which would run
  * `eval` in both modes).
  */
class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // id 1 and 4 ordinary, 2 all null, 3 all empty
  private def fixture(vecType: String): DataFrame = Seq(
    (1L, Option(Seq(1.0, 2.0, 3.0, 4.0)), Option(Seq(4.0, 3.0, 2.0, 1.0)),
      Option(Seq("a", "b", "a", "b", "c")), Option("The quick  brown fox the end"),
      Option("the quick brown fax"), Option((1L to 8L).toSeq), Option(Array[Byte](0, 1)),
      Option(0), Option(1L), Option(37.76)),
    (2L, None, None, None, None, None, None, None, None, None, None),
    (3L, Option(Seq.empty[Double]), Option(Seq.empty[Double]), Option(Seq.empty[String]),
      Option(""), Option(""), Option(Seq.empty[Long]), Option(Array.emptyByteArray),
      Option(0), Option(0L), Option(-0.0)),
    (4L, Option(Seq(0.5, -1.5, 0.0, 2.25)), Option(Seq(0.0, 0.0, 0.0, 0.0)),
      Option(Seq("x", null, "y")), Option("Café  ÉTÉ der und die \t ist"), Option("cafe"),
      Option(Seq(9L, -3L, 7L, 0L, Long.MaxValue, 5L, 5L, Long.MinValue)),
      Option(Array[Byte](1, 0)), Option(1), Option(2L), Option(-121.0)))
    .toDF("id", "v", "w", "toks", "s", "t", "sig", "codes", "q", "x", "d")
    .repartition(2)
    .withColumn("v", col("v").cast(s"array<$vecType>"))
    .withColumn("w", col("w").cast(s"array<$vecType>"))

  private val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.6, 0.8, 0.0))
  private val luts = Array(Array(0.1, 0.2, 0.3, 0.4), Array(-1.0, 2.0, 0.5, 0.25))
  private val bloom = {
    val b = BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L).foreach(b.putLong)
    b
  }

  /** (kernel, accepts the all-empty row, column over the fixture). The
    * fixed-width kernels reject an empty vector or code row by contract.
    */
  private val kernels: Seq[(String, Boolean, Column)] = Seq(
    ("cosine_sim", true, VectorExpr.cosineSim(col("v"), col("w"))),
    ("dot_product", true, VectorExpr.dotProduct(col("v"), col("w"))),
    ("sign_lsh", true, VectorExpr.signLsh(col("v"), 8)),
    ("sign_lsh_bands", true, VectorExpr.signLshBands(col("v"), 2, 4)),
    ("sign_lsh_bands_pooled", true, VectorExpr.signLshBandsPooled(col("v"), 2, 4, 8)),
    ("nearest_centroid", false, VectorExpr.nearestCentroid(col("v"), Array(10L, 20L), cents)),
    ("upper_tri_products", true, VectorExpr.upperTriProducts(col("v"))),
    ("minhash_sig", true, DedupExpr.minhashSig(col("toks"), 2, 8)),
    ("simhash64", true, DedupExpr.simhash(col("toks"))),
    ("shingle_hashes", true, DedupExpr.shingleHashes(col("toks"), 2)),
    ("lsh_band_keys", false, DedupExpr.bandKeys(col("sig"), 4, 2)),
    ("sig_agreement", true, DedupExpr.sigAgreement(col("sig"), reverse(col("sig")))),
    ("pq_encode", false, PqExpr.encode(col("v"), 2, 2, luts)),
    ("pq_encode_residual", false,
      PqExpr.encodeResidual(col("v"), col("x"), Array(1L, 2L), cents, 2, 2, luts)),
    ("pq_adc_scores", false, PqExpr.adcScores(col("codes"), 2, luts)),
    ("pq_adc_score_at", false, PqExpr.adcScoreAt(col("codes"), col("q"), 2, luts)),
    ("l2_normalize", true, SqExpr.l2normalize(col("v"))),
    ("sq8_encode", false,
      SqExpr.encode(col("v"), Array(-1.0, -1.0, -1.0, -1.0), Array(2.0, 2.0, 0.0, 2.0))),
    ("sq8_scores", false, SqExpr.scores(col("codes"), Array(Array(0.5, -0.25)), Array(1.0))),
    ("bq_encode", true, BqExpr.encode(col("v"))),
    ("bq_hamming", false, BqExpr.hamming(BqExpr.encode(col("v")), Array(Array(5L), Array(-1L)))),
    ("zorder_key", true, ZorderExpr.zorderKey(col("x"), col("q").cast("long"))),
    ("normalize_text", true, CurationExpr.normalizeText(col("s"))),
    ("repetition_stats", true, CurationExpr.repetitionStats(col("s"))),
    ("best_lang", true, CurationExpr.bestLang(col("s"),
      Map("de" -> Seq(" der ", " und ", " die "), "en" -> Seq(" the ", " of ")))),
    ("bloom_might_contain", true, CurationExpr.bloomMightContain(col("x"), bloom)),
    ("token_stats", true, TextExpr.tokenStats(col("s"), Seq("THE", "ist"))),
    ("jaro_winkler", true, TextExpr.jaroWinkler(col("s"), col("t"))),
    ("bpe_encode", true, BpeExpr.bpeEncode(col("toks"), Seq(("a", "b"), ("ab", "</w>")))),
    ("js_number_string", true, GeoNames.jsNumberString(col("d"))))

  test("every kernel gives identical rows with and without codegen, float and double") {
    kernels.map(_._1).distinct.size shouldBe 30
    for (vecType <- Seq("float", "double"); (name, emptyOk, kernel) <- kernels) {
      def run(conf: Map[String, String]): Seq[Row] = withConf(conf) {
        val df = fixture(vecType)
        (if (emptyOk) df else df.where(col("id") =!= 3L))
          .select(col("id"), kernel.as("k")).orderBy("id").collect().toSeq
      }
      val Seq(generated, interpreted) = modes.map(m => run(m._2))
      withClue(s"$name over array<$vecType>: ") {
        generated.size shouldBe (if (emptyOk) 4 else 3)
        generated.find(_.getLong(0) == 2L).get.isNullAt(1) shouldBe true
        interpreted shouldBe generated
      }
    }
  }

  test("a kernel's error surfaces unwrapped in both modes") {
    for ((mode, conf) <- modes) withClue(s"$mode: ") {
      val e = intercept[Exception](withConf(conf) {
        fixture("float").where(col("id") === 3L)
          .select(PqExpr.encode(col("v"), 2, 2, luts)).collect()
      })
      e.getMessage should include("pq_encode requires vectors of length 4, got 0")
    }
  }

  test("a wrong input type fails at analysis, naming the kernel") {
    val df = fixture("double")
    val wrong: Seq[(String, Column)] = Seq(
      "cosine_sim" -> VectorExpr.cosineSim(col("toks"), col("w")),
      "sign_lsh" -> VectorExpr.signLsh(col("s"), 8),
      "minhash_sig" -> DedupExpr.minhashSig(col("s"), 2, 8),
      "pq_encode_residual" ->
        PqExpr.encodeResidual(col("v"), col("s"), Array(1L), cents, 2, 2, luts),
      "pq_adc_scores" -> PqExpr.adcScores(col("v"), 2, luts),
      "token_stats" -> TextExpr.tokenStats(col("x")),
      "zorder_key" -> ZorderExpr.zorderKey(col("x"), col("s")),
      "js_number_string" -> GeoNames.jsNumberString(col("s")))
    for ((name, c) <- wrong) withClue(s"$name: ") {
      val e = intercept[AnalysisException](df.select(c))
      e.getMessage should include(s"$name requires")
    }
    intercept[AnalysisException](df.select(VectorExpr.signLsh(col("s"), 8)))
      .getMessage should include("sign_lsh requires array<float|double>, got string")
  }
}
