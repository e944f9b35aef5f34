package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.KernelCall

/** Audit of the library: `graft.functions.KernelCall` is the only
  * Catalyst `Expression` subclass built from `src/main/scala`, so a native
  * kernel is a static method plus a one-line wrapper, never a
  * hand-written expression class. The check runs over the compiled
  * classes, not the source text, so a subclass reached through a trait,
  * a nested or an anonymous class is caught too. Typed `Aggregator`s are
  * not Catalyst expressions and stay out of scope.
  */
class KernelAuditSpec extends AnyFunSuite with Matchers {

  private val classesDir: Path =
    Paths.get(classOf[KernelCall].getProtectionDomain.getCodeSource.getLocation.toURI)

  private def libraryClasses: Seq[Class[_]] = {
    assert(Files.isDirectory(classesDir), s"$classesDir is not a class directory")
    val walk = Files.walk(classesDir)
    try walk.iterator().asScala.toSeq.filter(_.toString.endsWith(".class")).map { p =>
      val name = classesDir.relativize(p).toString.stripSuffix(".class").replace('/', '.')
      Class.forName(name, false, getClass.getClassLoader)
    }
    finally walk.close()
  }

  test("only KernelCall extends a Catalyst Expression in src/main") {
    libraryClasses.filter(classOf[Expression].isAssignableFrom).map(_.getName) shouldBe
      Seq(classOf[KernelCall].getName)
  }

  test("the audit sees the library's classes") {
    val names = libraryClasses.map(_.getName)
    names should contain("graft.GraftExtensions$")
    names should contain("graft.functions.VectorKernels")
    names should contain("org.apache.spark.sql.graft.ColumnBridge$")
    names.exists(_.startsWith("graft.tools.")) shouldBe true
  }
}
