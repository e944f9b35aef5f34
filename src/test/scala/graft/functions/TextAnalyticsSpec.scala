package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.functions._

class TextAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  /** HOF form of [[TextAnalytics.tokenCount]]: the parity oracle. */
  private def tokenCountComposed(text: Column): Column =
    functions.size(TextAnalytics.tokens(text))

  /** HOF form of [[TextAnalytics.stopwordRatio]]: the parity oracle. */
  private def stopwordRatioComposed(text: Column, stopwords: Seq[String]): Column = {
    val toks = TextAnalytics.tokens(lower(text))
    val sw = typedLit(stopwords.map(_.toLowerCase))
    when(functions.size(toks) === 0, lit(0.0))
      .otherwise(functions.size(filter(toks, t => array_contains(sw, t))).cast("double") /
        functions.size(toks))
  }

  test("tokens splits on runs of whitespace, drops empties") {
    val got = Seq("  the quick\t brown\n fox ").toDF("t")
      .select(TextAnalytics.tokens(col("t")).as("x")).as[Seq[String]].head()
    got shouldBe Seq("the", "quick", "brown", "fox")
  }

  test("bpeishTokens splits punctuation into separate tokens") {
    val got = Seq("don't stop, now!").toDF("t")
      .select(TextAnalytics.bpeishTokens(col("t")).as("x")).as[Seq[String]].head()
    got shouldBe Seq("don", "'", "t", "stop", ",", "now", "!")
  }

  test("stopwordRatio counts lowercase matches; empty doc → 0.0") {
    val got = Seq("The cat and THE dog", "").toDF("t")
      .select(TextAnalytics.stopwordRatio(col("t"), Seq("the", "and")).as("r"))
      .as[Double].collect()
    got(0) shouldBe 0.6 +- 1e-12 // the, and, THE → 3 of 5
    got(1) shouldBe 0.0
  }

  test("token-stats kernel matches the composed HOF forms") {
    val docs = Seq("the quick brown fox", "The THE the", "", "  ", "a\tb\nc").toDF("t")
    val both = docs.select(
        TextAnalytics.tokenCount(col("t")).as("k_n"),
        tokenCountComposed(col("t")).as("h_n"),
        TextAnalytics.stopwordRatio(col("t"), Seq("the", "a")).as("k_r"),
        stopwordRatioComposed(col("t"), Seq("the", "a")).as("h_r"))
      .as[(Int, Int, Double, Double)].collect()
    both.foreach { case (kn, hn, kr, hr) => kn shouldBe hn; kr shouldBe hr }
  }

  test("punctRatio: punctuation chars over total chars") {
    val got = Seq("ab,c!").toDF("t")
      .select(TextAnalytics.punctRatio(col("t")).as("r")).as[Double].head()
    got shouldBe 0.4 +- 1e-12
  }

  test("meanTokenLen averages token lengths") {
    val got = Seq("ab abcd").toDF("t")
      .select(TextAnalytics.meanTokenLen(col("t")).as("r")).as[Double].head()
    got shouldBe 3.0 +- 1e-12
  }

  test("charNgrams produce sliding character windows over normalized text") {
    val got = Seq("ab  cd").toDF("t")
      .select(TextAnalytics.charNgrams(col("t"), 3).as("x")).as[Seq[String]].head()
    got shouldBe Seq("ab ", "b c", " cd")
  }

  test("langId picks language with most marker hits; tie → lexicographically first") {
    val profiles = Map(
      "en" -> Seq(" the ", " and ", " of "),
      "de" -> Seq(" der ", " und ", " die "))
    val got = Seq(
      "the cat and the dog of the house",
      "der hund und die katze",
      "zzz qqq xxx" // no markers: tie at 0 → "de" (lexicographically first)
    ).toDF("t").select(TextAnalytics.langId(col("t"), profiles).as("l"))
      .as[String].collect()
    got shouldBe Array("en", "de", "de")
  }

  test("fingerprint is order-sensitive and deterministic") {
    val got = Seq("a b c", "c b a", "a b c").toDF("t")
      .select(TextAnalytics.fingerprint(col("t")).as("f")).as[Long].collect()
    got(0) shouldBe got(2)
    got(0) should not be got(1)
  }

  test("tokenPairs yields adjacent pairs; short docs yield none") {
    val got = Seq("a b c d", "a", "", "x y")
      .toDF("t").select(TextAnalytics.tokenPairs(col("t")).as("p"))
      .selectExpr("transform(p, e -> concat(e.a, '+', e.b)) AS s")
      .as[Seq[String]].collect()
    got(0) shouldBe Seq("a+b", "b+c", "c+d")
    got(1) shouldBe Seq.empty
    got(2) shouldBe Seq.empty
    got(3) shouldBe Seq("x+y")
  }

  test("qualityScore in [0,1], rewards natural text over junk") {
    val got = Seq(
      "the quick brown fox jumps over the lazy dog and runs through the field " * 5,
      "!!!###$$$%%%^^^&&&***((()))" // pure punctuation junk
    ).toDF("t")
      .select(TextAnalytics.qualityScore(col("t"), Seq("the", "and", "of", "a")).as("q"))
      .as[Double].collect()
    all(got.toSeq) should (be >= 0.0 and be <= 1.0)
    got(0) should be > got(1)
  }

  test("vowelGroups counts vowel runs case-insensitively") {
    val got = Seq("AeIoU x bcd ee-oo", "zzz", "")
      .toDF("t").select(TextAnalytics.vowelGroups(col("t")).as("v"))
      .as[Int].collect()
    got shouldBe Array(3, 0, 0) // "aeiou", "ee", "oo"; no vowels; empty
  }

  test("readingEase matches the Flesch formula on hand counts") {
    // "go on. stop now!" → 4 words, 2 sentences, vowel runs: o,o,o,o = 4
    val got = Seq("go on. stop now!").toDF("t")
      .select(TextAnalytics.readingEase(col("t")).as("r"))
      .as[Double].head()
    got shouldBe (206.835 - 1.015 * (4.0 / 2.0) - 84.6 * (4.0 / 4.0)) +- 1e-9
    // unpunctuated text: sentence count clamps to 1
    val one = Seq("three word doc").toDF("t")
      .select(TextAnalytics.readingEase(col("t")).as("r"))
      .as[Double].head()
    one shouldBe (206.835 - 1.015 * 3.0 - 84.6 * (3.0 / 3.0)) +- 1e-9
  }
}
