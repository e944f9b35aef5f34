package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source audit of `graft.streaming`: every builder reaches
  * `transformWithState` through the one wiring helper in Streams.scala,
  * the day-end timer is armed only by the day-closing fold, and the ten
  * processors built on the two fold skeletons define only their state,
  * fold step and output.
  */
class StreamsAuditSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft")
  private val streams = root.resolve("streaming/Streams.scala")

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  private def hits(pat: String): Seq[String] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
    finally walk.close()
    for {
      p <- files
      (line, i) <- lines(p).zipWithIndex if line.contains(pat)
    } yield s"${root.relativize(p)}:${i + 1}"
  }

  /** The lines of the Streams member declared at line `start`, through
    * its closing brace at member indentation.
    */
  private def body(start: Int): Seq[String] = {
    val ls = lines(streams)
    ls.slice(start, ls.indexWhere(_ == "  }", start) + 1)
  }

  private def body(decl: String): Seq[String] = {
    val start = lines(streams).indexWhere(_.contains(decl))
    assert(start >= 0, s"'$decl' not found in $streams")
    body(start)
  }

  private def isDayEndTimer(line: String): Boolean =
    line.contains("registerTimer(") && line.contains("86400000L")

  test("transformWithState and the coordinator guard appear once, in the wiring helper") {
    val helper = body("private def withState[")
    for (pat <- Seq("transformWithState(", "StateStoreCoordinatorRef")) {
      withClue(pat) {
        hits(pat) should have size 1
        helper.exists(_.contains(pat)) shouldBe true
      }
    }
  }

  test("the day-end timer is armed only by the day-closing fold") {
    lines(streams).count(isDayEndTimer) shouldBe 1
    body("abstract class DailyFold[").exists(isDayEndTimer) shouldBe true
    hits("registerTimer(").map(_.takeWhile(_ != ':')).distinct shouldBe
      Seq("streaming/Streams.scala")
  }

  test("daily monitors and per-user folds define only their state, step and output") {
    val ls = lines(streams)
    val folds = ls.indices
      .filter(i => ls(i).contains("extends DailyFold[") || ls(i).contains("extends UserFold["))
      .map(i => ls.lastIndexWhere(_.startsWith("  class "), i))
    val names = folds.map(i => ls(i).drop("  class ".length).takeWhile(_.isLetterOrDigit))
    names.toSet shouldBe Set("DailyDistinctProcessor", "DailyQuantileProcessor",
      "DailyPsiProcessor", "DailyCalibrationProcessor", "DailyAucProcessor",
      "FunnelProcessor", "TransitionsProcessor", "LandmarkProcessor",
      "AttributionProcessor", "IntervalMergeProcessor")
    val skeleton = Seq("def init(", "def handleInputRows(", "def handleExpiredTimer(",
      "getHandle", "registerTimer", "getValueState")
    for ((start, name) <- folds.zip(names); pat <- skeleton)
      withClue(s"$name: ") { body(start).exists(_.contains(pat)) shouldBe false }
  }
}
