package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source audit of the library: `graft.operators.Lineage` is the only
  * place that cuts lineage, so every cut is lazy, named by its site and
  * released only by the engine's own sweep. The tool mains are out of
  * scope: their eager checkpoints materialize inputs before a timed
  * section and are not lineage policy.
  */
class LineageAuditSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft")
  private val patterns = Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(root.resolve("tools")))
    finally walk.close()
  }

  test("only Lineage.scala cuts lineage in library code") {
    val hits = for {
      p <- sources if p.getFileName.toString != "Lineage.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      pat <- patterns if line.contains(pat)
    } yield s"${root.relativize(p)}:${i + 1}: $pat"
    hits shouldBe empty
  }

  test("the audit sees the helper and the library") {
    val names = sources.map(_.getFileName.toString)
    names should contain("Lineage.scala")
    names should contain("Dedup.scala")
    (names should not).contain("StressBench.scala")
  }
}
