package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** Descriptions of the SQL executions `body` starts: one per Dataset
    * action and one per lineage cut. Listener events arrive
    * asynchronously, in order; a marker job run after `body` is the last
    * event, so once the listener has seen it, it has seen them all.
    */
  private def executions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "drain-marker"))) drained = true
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.parallelize(Seq(1), 1).setName("drain-marker").count()
      eventually(timeout(60.seconds)) { assert(drained) }
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** Ids of the persisted cuts named `graft-cut:<site>`. */
  private def cutIds(site: String): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if r.name == Lineage.Prefix + site => id
    }.toSet

  private def chain(n: Int) =
    (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")

  test("pageRank on a cycle stays uniform") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iters = 8)
      .as[(Long, Double)].collect().toMap
    got.values.foreach(_ shouldBe (1.0 / 3) +- 1e-12)
  }

  test("pageRank matches a hand-iterated star graph") {
    // 2,3,4 each point at 1; 1 points at 2. Hand-run two iterations.
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("src", "dst")
    val n = 4.0
    var pr = Map(1L -> 1 / n, 2L -> 1 / n, 3L -> 1 / n, 4L -> 1 / n)
    for (_ <- 1 to 2) {
      pr = Map(
        1L -> (0.15 / n + 0.85 * (pr(2L) + pr(3L) + pr(4L))),
        2L -> (0.15 / n + 0.85 * pr(1L)),
        3L -> (0.15 / n), // no in-edges
        4L -> (0.15 / n))
    }
    val got = Graphs.pageRank(edges, "src", "dst", iters = 2)
      .as[(Long, Double)].collect().toMap
    got.keySet shouldBe pr.keySet
    pr.foreach { case (k, v) => got(k) shouldBe v +- 1e-9 }
  }

  test("pageRank mass stays bounded and ranks hubs above leaves") {
    val edges = (2L to 20L).map(i => (i, 1L)) :+ ((1L, 2L))
    val got = Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 5)
      .as[(Long, Double)].collect().toMap
    got(1L) should be > got(2L)
    got(2L) should be > got(3L)
    // simplified model: total mass ≤ 1 (dangling mass decays, never grows)
    got.values.sum should be <= 1.0 + 1e-9
  }

  test("triangleCounts: hand-counted graph; direction/duplicates/self-loops ignored") {
    // K4 on {1,2,3,4} (4 triangles, each vertex in 3) plus a pendant
    // vertex 5 (in none) — fed as DIRECTED, duplicated, self-looped
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b) // both directions of every K4 edge
    val edges = (k4 ++ Seq((4L, 5L), (3L, 3L), (1L, 2L))).toDF("src", "dst")
    val got = Graphs.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    // global count: Σ per-vertex / 3 = 4
    got.values.sum / 3 shouldBe 4L
  }

  test("triangleCounts on a hub star: no triangles despite the hub's degree") {
    // star graphs are the degree-orientation worst case for NAIVE wedge
    // counting (hub wedges = deg²); oriented counting emits none
    val star = (2L to 40L).map(i => (1L, i)).toDF("src", "dst")
    Graphs.triangleCounts(star, "src", "dst").count() shouldBe 0L
    // closing one rim edge creates exactly one triangle
    val closed = ((2L to 40L).map(i => (1L, i)) :+ ((2L, 3L))).toDF("src", "dst")
    val got = Graphs.triangleCounts(closed, "src", "dst")
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
  }

  test("labelPropagation merges two cliques joined by a bridge into min-label communities") {
    // two triangles {1,2,3} and {10,11,12} plus bridge 3-10: after two
    // deterministic min-tie-break rounds each triangle converges to its
    // smallest member's label
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = Graphs.labelPropagation(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    // round 1: every vertex adopts its smallest neighbor (1<->2 swap, etc.)
    // round 2: the triangle {1,2,3} stabilizes on 1; {10,11,12} pulls the
    // bridge toward the smaller side
    got.keySet shouldBe Set(1L, 2L, 3L, 10L, 11L, 12L)
    got(2L) shouldBe got(3L) // the first clique agrees
    got(11L) shouldBe got(12L) // the second clique agrees
  }

  test("labelPropagation is deterministic: repeated runs agree exactly") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L),
      (2L, 5L), (7L, 8L)).toDF("src", "dst")
    val a = Graphs.labelPropagation(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val b = Graphs.labelPropagation(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    a shouldBe b
  }

  test("labelPropagation zero iterations returns identity labels; self-loops ignored") {
    val edges = Seq((1L, 1L), (1L, 2L)).toDF("src", "dst")
    Graphs.labelPropagation(edges, "src", "dst", iters = 0)
      .as[(Long, Long)].collect().toMap shouldBe Map(1L -> 1L, 2L -> 2L)
    // one round: 1's only (non-self) neighbor is 2 and vice versa
    Graphs.labelPropagation(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap shouldBe Map(1L -> 2L, 2L -> 1L)
  }

  test("twoHopCounts on a path graph: interior vertices reach further") {
    // path 1-2-3-4-5: within 2 hops, 1 reaches {2,3}, 2 reaches {1,3,4},
    // 3 reaches {1,2,4,5}, symmetric for 4 and 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graphs.twoHopCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 3L, 5L -> 2L)
  }

  test("pageRank reliable mode produces identical values") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val edges = es.toDF("src", "dst")
    val a = Graphs.pageRank(edges, "src", "dst", iters = 4)
      .as[(Long, Double)].collect().toMap
    val b = Graphs.pageRank(edges, "src", "dst", iters = 4, reliable = true)
      .as[(Long, Double)].collect().toMap
    a.keySet shouldBe b.keySet
    a.foreach { case (k, v) => b(k) shouldBe v } // bit-identical
    // both operators run one power-iteration body: each equals, bit for
    // bit, a driver-side iteration that folds each vertex's contributions
    // in ascending order from 0.0 (the ordered-sum contract), across the
    // round-2 cut
    val ids = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = es.groupBy(_._1).map { case (u, out) => u -> out.size.toDouble }
    def iterate(seed: Map[Long, Double], base: Long => Double): Map[Long, Double] =
      (1 to 4).foldLeft(seed) { (pr, _) =>
        ids.map { v =>
          val in = (0.0 +: es.collect { case (u, `v`) => pr(u) / outDeg(u) }).sorted
          v -> (base(v) + in.foldLeft(0.0)(_ + _) * 0.85)
        }.toMap
      }
    val n = ids.size
    iterate(ids.map(_ -> 1.0 / n).toMap, _ => (1.0 - 0.85) / n) shouldBe a
    val ppr = Graphs.personalizedPageRank(edges, "src", "dst", sourceId = 1L, iters = 4)
      .as[(Long, Double)].collect().toMap
    ppr shouldBe iterate(ids.map(v => v -> (if (v == 1L) 1.0 else 0.0)).toMap,
      v => if (v == 1L) 1.0 - 0.85 else 0.0)
  }

  test("pageRank cuts the ranks after rounds 2 and 4 of 5, never after the last") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def cutsAndPlan(iters: Int): (Int, String) = {
      val before = cutIds("Graphs.pageRank.pr")
      val pr = Graphs.pageRank(edges, "src", "dst", iters = iters)
      val plan = pr.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      ((cutIds("Graphs.pageRank.pr") -- before).size, plan)
    }
    // one operator-detail header per scan of the cut
    def scans(plan: String): Int =
      """(?m)^\(\d+\) Scan ExistingRDD graft-cut:Graphs\.pageRank\.pr$""".r
        .findAllMatchIn(plan).size
    val (two, twoPlan) = cutsAndPlan(2)
    two shouldBe 0
    scans(twoPlan) shouldBe 0
    val (three, threePlan) = cutsAndPlan(3)
    three shouldBe 1
    scans(threePlan) shouldBe 1
    val (five, fivePlan) = cutsAndPlan(5)
    five shouldBe 2
    // round 5 reads the round-4 cut, whose plan hides the round-2 one
    scans(fivePlan) shouldBe 1
  }

  test("bfsDistances: min hops on an undirected path with a cycle and a stray") {
    // path 0-1-2-3 plus chord 0-2 (so 3 is 2 hops, not 3) and an
    // unreachable pair 8-9; edges given directed, traversal undirected
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (2L, 0L), (8L, 9L))
      .toDF("src", "dst")
    val got = Graphs.bfsDistances(edges, "src", "dst", 0L, maxHops = 4)
      .as[(Long, Int)].collect().toMap
    got shouldBe Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2)
  }

  test("bfsDistances: maxHops truncates; early exhaustion stops iterating") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    Graphs.bfsDistances(chain, "src", "dst", 0L, maxHops = 2)
      .as[(Long, Int)].collect().toMap shouldBe
      Map(0L -> 0, 1L -> 1, 2L -> 2)
    // isolated source: only itself, regardless of budget
    Graphs.bfsDistances(chain, "src", "dst", 99L, maxHops = 4)
      .as[(Long, Int)].collect().toMap shouldBe Map(99L -> 0)
  }

  test("bfsDistances: one frontier-check action per two-hop stride") {
    // a chain longer than the budget: the frontier never empties, so a
    // per-hop emptiness check would run 8 actions
    val got = executions {
      Graphs.bfsDistances(chain(12), "src", "dst", 0L, maxHops = 8)
    }
    val actions = got.filterNot(_.startsWith("localCheckpoint"))
    actions.size should be <= 4
    Graphs.bfsDistances(chain(12), "src", "dst", 0L, maxHops = 8)
      .as[(Long, Int)].collect().toMap shouldBe (0 to 8).map(i => i.toLong -> i).toMap
  }

  test("bfsDistances: a frontier that empties on a stride's first or second round") {
    // 0-1-2: hop 3 (first round of the second stride) finds nothing
    Graphs.bfsDistances(chain(2), "src", "dst", 0L, maxHops = 8)
      .as[(Long, Int)].collect().toMap shouldBe Map(0L -> 0, 1L -> 1, 2L -> 2)
    // 0-1-2-3: hop 4 (second round of the second stride) finds nothing
    Graphs.bfsDistances(chain(3), "src", "dst", 0L, maxHops = 8)
      .as[(Long, Int)].collect().toMap shouldBe
      Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3)
    // an odd budget ends on a one-round stride
    Graphs.bfsDistances(chain(12), "src", "dst", 0L, maxHops = 3)
      .as[(Long, Int)].collect().toMap shouldBe (0 to 3).map(i => i.toLong -> i).toMap
    Graphs.bfsDistances(chain(12), "src", "dst", 0L, maxHops = 0)
      .as[(Long, Int)].collect().toMap shouldBe Map(0L -> 0)
  }

  test("bfsDistances: persisted cuts stay constant however many hops run") {
    val sc = spark.sparkContext
    // every stride releases the cuts its action made dead, so a call
    // leaves two cuts persisted (the undirected edges and the last
    // distance table, both read by the result) whatever the hop count
    def held(maxHops: Int): Int = {
      val before = sc.emptyRDD[Int].id
      val d = Graphs.bfsDistances(chain(20), "src", "dst", 0L, maxHops)
      d.as[(Long, Int)].collect().toMap shouldBe
        (0 to maxHops).map(i => i.toLong -> i).toMap
      sc.getPersistentRDDs.collect {
        case (id, r) if id > before && Option(r.name).exists(_.startsWith(Lineage.Prefix)) => id
      }.size
    }
    held(2) shouldBe 2
    held(12) shouldBe 2
  }

  test("personalizedPageRank: hand-iterated restart walk on a 3-node graph") {
    // 0→1, 1→0, 1→2; restart at 0, d = 0.85, two iterations:
    //   pr1 = (0.15, 0.85, 0)
    //   pr2 = (0.15 + 0.85·0.425, 0.85·0.15, 0.85·0.425)
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L)).toDF("src", "dst")
    val got = Graphs.personalizedPageRank(edges, "src", "dst",
        sourceId = 0L, iters = 2)
      .as[(Long, Double)].collect().toMap
    got(0L) shouldBe 0.51125 +- 1e-12
    got(1L) shouldBe 0.1275 +- 1e-12
    got(2L) shouldBe 0.36125 +- 1e-12
    // mass stays ≤ 1: walk probability leaks only at dangling node 2
    got.values.sum should be <= 1.0 + 1e-12
  }

  test("hits: hand-computed two-round integer scores on a 3-node graph") {
    // 1→2, 3→2, 2→1: a1=(1,2,0), h1=(2,1,2), a2=(1,4,0), h2=(4,1,4)
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graphs.hits(edges, "src", "dst", iters = 2)
      .select("id", "auth_raw", "hub_raw", "auth_norm", "hub_norm")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    got shouldBe Array(
      (1L, 1L, 4L, 0.25, 1.0),
      (2L, 4L, 1L, 1.0, 0.25),
      (3L, 0L, 4L, 0.0, 1.0))
  }

  test("hits: iteration budget is require()-guarded") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graphs.hits(edges, "src", "dst", iters = 5)
    }
    e.getMessage should include("iters")
  }

  test("edgeEmbeddedness: hand-computed cn and Jaccard on square + diagonal") {
    // square 1-2-3-4-1 plus diagonal 1-3:
    //   edge (1,3): N(1)\{3}={2,4} ≡ N(3)\{1} → cn=2, denom 3+3−2−2=2 → 1.0
    //   edge (1,2): common {3}, denom 3+2−2−1=2 → 0.5
    //   edge (2,3): common {1}, denom 2+3−2−1=2 → 0.5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val got = Graphs.edgeEmbeddedness(edges, "src", "dst")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    got((1L, 3L)) shouldBe ((2L, 1.0))
    got((1L, 2L)) shouldBe ((1L, 0.5))
    got((2L, 3L)) shouldBe ((1L, 0.5))
    got.size shouldBe 5
  }

  test("wedge operators fail loudly on hub graphs, naming the knob") {
    // a 10-leaf star: hub degree 10 > maxDegreeCheck=5
    val star = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException] {
      Graphs.linkPrediction(star, "src", "dst", maxDegreeCheck = 5)
    }
    e1.getMessage should include("maxDegreeCheck")
    val e2 = intercept[IllegalArgumentException] {
      Graphs.edgeEmbeddedness(star, "src", "dst", maxDegreeCheck = 5)
    }
    e2.getMessage should include("maxDegreeCheck")
    // ≤ the knob passes; 0 disables the check entirely
    Graphs.linkPrediction(star, "src", "dst", maxDegreeCheck = 10)
      .collect()
    Graphs.edgeEmbeddedness(star, "src", "dst", maxDegreeCheck = 0)
      .collect().length shouldBe 10
  }

  test("edgeEmbeddedness: isolated edge has zero common neighbors, zero Jaccard") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    Graphs.edgeEmbeddedness(edges, "src", "dst")
      .as[(Long, Long, Long, Double)].collect() shouldBe
      Array((1L, 2L, 0L, 0.0))
  }

  test("linkPrediction: square graph predicts both diagonals exactly") {
    // cycle 1-2-3-4-1, all degrees 2: non-adjacent pairs (1,3) and
    // (2,4) share both their neighbors → n_common=2, RA = 2·(1/2) = 1.0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graphs.linkPrediction(edges, "src", "dst", minCommon = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    got shouldBe Array((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0))
  }

  test("linkPrediction: existing edges are never predicted") {
    // square plus the 1-3 diagonal: (1,3) is now adjacent → only (2,4)
    // survives; deg(1)=deg(3)=3 so RA(2,4) = 1/3 + 1/3 (pico-floor)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val got = Graphs.linkPrediction(edges, "src", "dst", minCommon = 2)
      .as[(Long, Long, Long, Double)].collect()
    got.length shouldBe 1
    val (a, b, n, ra) = got.head
    (a, b, n) shouldBe ((2L, 4L, 2L))
    // 2 · (1e12 div 3) / 1e12 = 0.666666 floored at pico-units
    ra shouldBe 0.666667 +- 1e-6
  }
}
