package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source audit of the tool mains: `graft.tools.ToolSession` is the only
  * place that builds a SparkSession, and the two env knobs it replaced
  * (a shuffle-partition override and a SQL-conf list, both now plain
  * `-Dspark.*` properties) stay gone. A source check because the mains
  * call `spark.stop()` and so cannot run inside the shared test session.
  */
class ToolSessionAuditSpec extends AnyFunSuite with Matchers {

  private val toolsDir = Paths.get("src/main/scala/graft/tools")

  private def sources: Seq[(String, String)] = {
    assert(Files.isDirectory(toolsDir), s"$toolsDir not found from ${Paths.get("").toAbsolutePath}")
    Files.list(toolsDir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p))
  }

  test("only ToolSession builds a SparkSession in graft.tools") {
    val builders = sources.collect { case (f, src) if src.contains("SparkSession.builder") => f }
    builders shouldBe Seq("ToolSession.scala")
  }

  test("the replaced env knobs are not read by any tool") {
    val knobs = Seq("SPARK_GRAFT_PARTS", "SPARK_GRAFT_PROFILE_CONF")
    val hits = for ((f, src) <- sources; k <- knobs if src.contains(k)) yield s"$f: $k"
    hits shouldBe empty
  }
}
