package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

/** Reference semantics under test: geonames.js:129–132 — probe the full
  * code, then strip the LAST character repeatedly until the map hits or
  * the string is empty; no hit ⇒ row dropped (geonames.js:134, 175–177).
  */
class PrefixMatchSpec extends SparkSpec {
  import spark.implicits._

  /** The reference's while-loop, verbatim semantics in Scala. */
  private def referenceLookup(code: String, types: Map[String, String]): Option[String] = {
    var c = code
    while (c.nonEmpty && !types.contains(c)) c = c.substring(0, c.length - 1)
    if (c.isEmpty) None else Some(types(c))
  }

  private val typeMap = Map("ADM" -> "admin", "ADM2" -> "admin2", "PPL" -> "place", "S" -> "spot")

  test("longest prefix wins; full-code match preferred") {
    val df = Seq("ADM2H", "ADM2", "ADM1", "PPLX", "S", "STM", "XXX", "")
      .toDF("code")
      .select(col("code"), PrefixMatch.classify(col("code"), typeMap).as("t"))
    val got = df.as[(String, Option[String])].collect().toMap
    got("ADM2H") shouldBe Some("admin2") // strips H, hits ADM2 before ADM
    got("ADM2") shouldBe Some("admin2")
    got("ADM1") shouldBe Some("admin")
    got("PPLX") shouldBe Some("place")
    got("S") shouldBe Some("spot")
    got("STM") shouldBe Some("spot")
    got("XXX") shouldBe None
    got("") shouldBe None
  }

  test("property: classify == reference while-loop for arbitrary codes") {
    val codeGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('A', 'D', 'M', 'P', 'L', 'S', '2', 'X')))
    val codes = Gen.listOfN(200, codeGen).sample.get.distinct
    val got = codes.toDF("code")
      .select(col("code"), PrefixMatch.classify(col("code"), typeMap).as("t"))
      .as[(String, Option[String])].collect().toMap
    codes.foreach { c =>
      withClue(s"code='$c'") { got(c) shouldBe referenceLookup(c, typeMap) }
    }
  }
}
