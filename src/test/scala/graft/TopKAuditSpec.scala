package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source audit of the vector-search operators: every per-query top-k
  * ranks through `Similarity.rankPerQuery`, fans a query list out through
  * `Similarity.queryIdAt`, and collects a query frame through
  * `Similarity.queryList`. So the ranking window, the literal array of
  * query ids and the query cap each have one home, and no entry point or
  * tool decodes a collected vector by hand.
  */
class TopKAuditSpec extends AnyFunSuite with Matchers {

  private val main = Paths.get("src/main/scala")
  private val operators = main.resolve("graft/operators")

  private def sources(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala"))
    finally walk.close()
  }

  private def code(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex
      .filterNot { case (l, _) => l.trim.startsWith("//") || l.trim.startsWith("*") }

  private val defName = """\bdef\s+(\w+)""".r.unanchored

  /** (file, enclosing def) of every code line matching `pattern`. */
  private def hits(root: Path, pattern: String): Seq[(String, String)] =
    sources(root).flatMap { p =>
      val lines = code(p)
      lines.indices.filter(i => lines(i)._1.contains(pattern)).map { i =>
        val enclosing = lines.take(i + 1).reverseIterator
          .collectFirst { case (defName(n), _) => n }.getOrElse("<object>")
        (p.getFileName.toString, enclosing)
      }
    }

  test("the per-query ranking window lives only in Similarity.rankPerQuery") {
    // knnClassify's second window ranks labels by votes within a query;
    // its neighbor ranking goes through rankPerQuery like every other
    hits(operators, """partitionBy(col("query_id"))""") should contain theSameElementsAs
      Seq("Similarity.scala" -> "rankPerQuery", "Retrieval.scala" -> "knnClassify")
  }

  test("the query-id fan-out and the query cap live only in Similarity") {
    hits(operators, "lit(q._1)") shouldBe Seq("Similarity.scala" -> "queryIdAt")
    hits(operators, "posexplode(scores)") shouldBe Seq("Similarity.scala" -> "fanOut")
    hits(operators, "qidArr") shouldBe empty
    hits(operators, "val MaxQueries") shouldBe Seq("Similarity.scala" -> "<object>")
    hits(operators, ".limit(MaxQueries") shouldBe Seq("Similarity.scala" -> "queryList")
  }

  test("no collected query vector is decoded by hand in src/main") {
    hits(main, "getSeq[Float](1).map(_.toDouble)") shouldBe empty
  }
}
