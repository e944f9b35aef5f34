package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The fixture memo behind every `EntryContext` fixture: one build per
  * (name, dir), however many callers race for it; builds may read other
  * fixtures; a build that throws is retried.
  */
class FixtureMemoSpec extends AnyFunSuite with Matchers {
  import EntryContext.{fixture, fixturePath, fixtureRoots}

  test("concurrent first calls run the build once") {
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val builds = new AtomicInteger()
      val go = new CountDownLatch(1)
      val calls = (1 to threads).map { _ =>
        Future {
          go.await()
          fixture("memo-once", "dir-a") { builds.incrementAndGet(); Thread.sleep(100); "built" }
        }
      }
      go.countDown()
      Await.result(Future.sequence(calls), 30.seconds) shouldBe Seq.fill(threads)("built")
      builds.get shouldBe 1
      // the same name under another dir is another fixture
      fixture("memo-once", "dir-b") { builds.incrementAndGet(); "other" } shouldBe "other"
      builds.get shouldBe 2
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a build that reads other fixtures completes") {
    // the ngramPairs → docShingles shape, wide enough that the inner
    // inserts resize the memo map while the outer build runs
    val inner = new AtomicInteger()
    def shingles(i: Int): Int = fixture(s"memo-inner-$i", "dir") { inner.incrementAndGet(); i }
    val pairs = fixture("memo-outer", "dir") { (0 until 200).map(shingles).sum }
    pairs shouldBe (0 until 200).sum
    fixture("memo-outer", "dir")(-1) shouldBe pairs
    shingles(7) shouldBe 7
    inner.get shouldBe 200
  }

  test("a build that throws memoizes nothing and is retried on the next call") {
    val builds = new AtomicInteger()
    def guarded(fail: Boolean): String = fixture("memo-retry", "dir") {
      builds.incrementAndGet()
      require(!fail, "guard tripped")
      "ok"
    }
    an[IllegalArgumentException] should be thrownBy guarded(fail = true)
    guarded(fail = false) shouldBe "ok"
    guarded(fail = true) shouldBe "ok" // memoized: the build does not run again
    builds.get shouldBe 2
  }

  test("a path fixture writes once under a registered temp dir named by its prefix") {
    val writes = new AtomicInteger()
    def path = fixturePath("graft-memotest", "leaf", "dir") { p =>
      writes.incrementAndGet()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    }
    val p = path
    path shouldBe p
    writes.get shouldBe 1
    val dir = new java.io.File(p)
    dir.getName shouldBe "leaf"
    dir.isDirectory shouldBe true
    dir.getParentFile.getName should startWith("graft-memotest")
    fixtureRoots.contains(dir.getParentFile) shouldBe true
  }
}
