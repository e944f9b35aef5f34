package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source audit of the declared surface's fixtures: `EntryContext`'s one
  * memo is the only fixture registry in `graft.entry`. A
  * `ConcurrentHashMap` appears only as the memo map and the
  * `fixtureRoots` set, `computeIfAbsent` only in `fixture`, and a temp
  * dir is made (`fixtureDir(`) only by `fixturePath`.
  */
class FixtureAuditSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft/entry")

  /** Token → the EntryContext members allowed to use it. */
  private val allowed = Map(
    "ConcurrentHashMap" -> Set("fixtureRoots", "fixtures"),
    "computeIfAbsent" -> Set("fixture"),
    "fixtureDir(" -> Set("fixtureDir", "fixturePath"))

  private val member =
    """^  (?:(?:private(?:\[\w+\])?|final|lazy|override)\s+)*(?:def|val|var|class|object)\s+(\w+)""".r.unanchored

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
    finally walk.close()
  }

  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/**")
  }

  /** (token, file, owning object member, line) of every use of a token. */
  private def uses(p: Path): Seq[(String, String, String, Int)] = {
    val lines = Files.readAllLines(p).asScala.toIndexedSeq
    for {
      (l, i) <- lines.zipWithIndex if !isComment(l)
      token <- allowed.keys.toSeq if l.contains(token)
    } yield {
      val owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
        case member(name) => name
      }.getOrElse("<top>")
      (token, p.getFileName.toString, owner, i + 1)
    }
  }

  private lazy val all = sources.flatMap(uses)

  test("fixture registries appear only inside EntryContext's memo") {
    val stray = all.filterNot { case (token, file, owner, _) =>
      file == "EntryContext.scala" && allowed(token)(owner)
    }.map { case (token, file, owner, line) => s"$file:$line: $token in $owner" }
    stray shouldBe empty
  }

  test("the audit sees one memo map, one computeIfAbsent and one temp-dir maker") {
    def owners(token: String) = all.collect { case (`token`, _, owner, _) => owner }
    owners("ConcurrentHashMap").sorted shouldBe Seq("fixtureRoots", "fixtures")
    owners("computeIfAbsent") shouldBe Seq("fixture")
    owners("fixtureDir(").sorted shouldBe Seq("fixtureDir", "fixturePath")
  }
}
