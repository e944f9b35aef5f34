package graft.operators

import java.lang.ref.WeakReference

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions._

class LineageSpec extends SparkSpec {

  private def cutIds(site: String): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if r.name == Lineage.Prefix + site => id
    }.toSet

  private def cachedPartitions(id: Int): Int =
    spark.sparkContext.getRDDStorageInfo.find(_.id == id).map(_.numCachedPartitions).getOrElse(0)

  test("cut is lazy, names its RDD by site and shows the site in the plan") {
    val c = Lineage.cut(spark.range(0, 100, 1, 4).toDF("id"), "LineageSpec.lazy")
    val Seq(id) = cutIds("LineageSpec.lazy").toSeq
    cachedPartitions(id) shouldBe 0 // no job of its own
    c.queryExecution.executedPlan.toString should include("graft-cut:LineageSpec.lazy")
    c.count() shouldBe 100
    cachedPartitions(id) shouldBe 4 // the first action computed every block
    Lineage.release(c)
    cutIds("LineageSpec.lazy") shouldBe empty
  }

  test("releaseDeadCheckpoints frees engine cuts and spares a caller's cache") {
    val sc = spark.sparkContext
    val cached = spark.range(0, 1000, 1, 4).toDF("id").cache()
    try {
      cached.count()
      val callerIds = sc.getPersistentRDDs.collect {
        case (id, r) if r.name == null || !r.name.startsWith(Lineage.Prefix) => id
      }.toSet
      callerIds should not be empty
      Lineage.cut(spark.range(10).toDF("id"), "LineageSpec.sweep").count() shouldBe 10
      cutIds("LineageSpec.sweep") should have size 1
      SparkEntry.releaseDeadCheckpoints(spark)
      cutIds("LineageSpec.sweep") shouldBe empty
      sc.getPersistentRDDs.keySet should contain allElementsOf callerIds
      callerIds.map(cachedPartitions).sum should be > 0 // blocks still there
      cached.count() shouldBe 1000
    } finally cached.unpersist()
  }

  test("reliable cut checkpoints eagerly to a checkpoint dir and keeps its name") {
    val c = Lineage.cut(spark.range(0, 20, 1, 2).toDF("id"), "LineageSpec.reliable",
      reliable = true)
    spark.sparkContext.getCheckpointDir should not be empty
    c.queryExecution.executedPlan.toString should include("graft-cut:LineageSpec.reliable")
    c.count() shouldBe 20
  }

  test("a cut keeps its source plan's SQL metrics alive after the lineage truncation") {
    // a task of a second job that also computed the cut reports to these
    // metrics; once collected, its updates are lost ("attempted to
    // access non-existent accumulator")
    def cutAndWatch(): (DataFrame, Seq[WeakReference[SQLMetric]]) = {
      val src = spark.range(0, 1000, 1, 4).toDF("id")
        .groupBy((col("id") % 7).as("k")).count()
      val c = Lineage.cut(src, "LineageSpec.metrics")
      c.count() shouldBe 7 // computes the cut and truncates its lineage
      val helper = new AdaptiveSparkPlanHelper {}
      val metrics = helper.collect(src.queryExecution.executedPlan) { case p => p }
        .flatMap(_.metrics.values).map(new WeakReference(_))
      metrics should not be empty
      (c, metrics)
    }
    val (c, metrics) = cutAndWatch()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    metrics.count(_.get == null) shouldBe 0
    c.count() shouldBe 7 // the cut is still live here
    Lineage.release(c)
  }
}
