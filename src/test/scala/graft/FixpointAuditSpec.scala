package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source audit of the iterative operators: `graft.operators.Fixpoint`
  * is the only place in `graft.operators` that loops over DataFrame
  * state, so every loop shares one cut stride and one stop test. Outside
  * Fixpoint.scala no `var` holds a DataFrame and no loop body cuts
  * lineage.
  */
class FixpointAuditSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft/operators")

  /** DataFrame loops that need no lineage cut, as (file, var) → reason. */
  private val exempt = Map(
    ("Ivf.scala", "centroids") -> ("the Lloyd loop collects its centroids to " +
      "the driver every round, so its plan does not grow"),
    ("Ivf.scala", "assignments") -> "the same Lloyd loop's per-round output",
    ("Funnel.scala", "cur") -> ("a fold over the caller's landmark steps: one " +
      "join per step of the query text, not a round budget"))

  private val dfVar =
    """\bvar\s+(\w+)\s*(:\s*DataFrame\b)?[^=]*=\s*(.*)""".r.unanchored
  private val dfExpr =
    """\b(Lineage\.)?cut\(|\.(select|join|unionAll|union|where|agg|groupBy|distinct|toDF|orderBy|limit|withColumn)\("""
      .r.unanchored
  private val loopHeader = """\bfor\s*\(|\bwhile\s*\(|\bIterator\.iterate\(|\.foldLeft\(""".r.unanchored
  private val cutCall = """\b(Lineage\.)?cut\(""".r.unanchored

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
    finally walk.close()
  }

  private def code(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex
      .filterNot { case (l, _) => l.trim.startsWith("//") || l.trim.startsWith("*") }

  private def indent(l: String): Int = l.takeWhile(_ == ' ').length

  /** (file, var, line) of every `var` that holds a DataFrame. */
  private def dataFrameVars(p: Path): Seq[(String, String, Int)] =
    code(p).collect {
      case (dfVar(name, tpe, rhs), i) if tpe != null || dfExpr.matches(rhs) =>
        (p.getFileName.toString, name, i + 1)
    }

  /** Lines that cut lineage inside a loop: the loop's header line and
    * every following line indented deeper than it.
    */
  private def cutsInLoops(p: Path): Seq[String] = {
    val lines = code(p)
    lines.indices.filter(i => loopHeader.matches(lines(i)._1)).flatMap { h =>
      val depth = indent(lines(h)._1)
      val body = lines.drop(h + 1)
        .takeWhile { case (l, _) => l.trim.isEmpty || indent(l) > depth }
      (lines(h) +: body).collect {
        case (l, i) if cutCall.matches(l) => s"${p.getFileName}:${i + 1}: ${l.trim}"
      }
    }.distinct
  }

  private val library = sources.filter(_.getFileName.toString != "Fixpoint.scala")

  test("no var holds a DataFrame outside Fixpoint.scala, except the named loops") {
    val hits = library.flatMap(dataFrameVars)
      .filterNot { case (f, v, _) => exempt.contains((f, v)) }
      .map { case (f, v, i) => s"$f:$i: var $v" }
    hits shouldBe empty
  }

  test("no loop body cuts lineage outside Fixpoint.scala") {
    library.flatMap(cutsInLoops) shouldBe empty
  }

  test("the audit sees the driver, its callers and every exempt loop") {
    val names = sources.map(_.getFileName.toString)
    names should contain allOf ("Fixpoint.scala", "Graphs.scala", "Dedup.scala")
    val vars = library.flatMap(dataFrameVars).map { case (f, v, _) => (f, v) }.toSet
    exempt.keySet.filterNot(vars) shouldBe empty // a stale exemption fails
    // the loop rule does see a loop that cuts: it flags the driver, the
    // one file left out
    val fixpoint = sources.find(_.getFileName.toString == "Fixpoint.scala").get
    cutsInLoops(fixpoint) should not be empty
  }
}
