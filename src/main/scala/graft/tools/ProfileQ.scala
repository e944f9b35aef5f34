package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-query execution profile: wall seconds plus Spark-side counters
  * (jobs, stages, tasks, shuffle bytes, task time, GC) from a listener
  * and the ReusedExchange count of the executed plan — the "where do the
  * seconds go" table (guide §1: decide whether a floor is shuffle,
  * scheduling, or compute before touching the code). Each query runs
  * `reps` timed reps after one untimed warm-up of the session, each rep
  * building a fresh DataFrame and timing `queryExecution.toRdd.count()`
  * as Bench does. The per-layer split of the benchmark's own workloads
  * is `perfbench/run.py --profile`.
  *
  *   sbt "runMain graft.tools.ProfileQ <names|top:N> [reps] [plansDir]"
  *
  * `<names>` = comma list of declared queries; `top:N` profiles the N
  * alphabetically-first queries (mostly for smoke runs). With a third
  * arg, `<plansDir>/<query>.txt` gets the formatted plan of rep 1 as
  * executed: under AQE the final plan (`isFinalPlan=true`), with the
  * ReusedExchange / AQEShuffleRead decisions `.explain` cannot show
  * before execution. SQL settings for an A/B run go in as JVM system
  * properties (`-Dspark.sql.…=…`), which the session keeps.
  */
object ProfileQ extends AdaptiveSparkPlanHelper {
  private class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val taskTimeMs = new AtomicLong
    val gcMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(): Unit }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      shuffleRead.set(0); shuffleWrite.set(0); taskTimeMs.set(0); gcMs.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val reps = if (args.length > 1) args(1).toInt else 2
    val plansDir = if (args.length > 2) Some(args(2)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession()
    val names: Seq[String] =
      if (args(0).startsWith("top:"))
        graft.SparkEntry.queries.keys.toSeq.sorted.take(args(0).stripPrefix("top:").toInt)
      else args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    println(f"[profileq] ${"query"}%-28s rep   sec   jobs stages  tasks  shufMB taskSec  gcSec reused")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        c.reset()
        val t0 = System.nanoTime()
        val qe = fn(spark, sfDir).queryExecution
        qe.executedPlan // force analysis+optimization+physical planning
        val tPlan = System.nanoTime()
        qe.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        val planSec = (tPlan - t0) / 1e9
        // after the action, qe.executedPlan is the plan that ran (AQE's
        // final plan)
        val reused = collectWithSubqueries(qe.executedPlan) { case e: ReusedExchangeExec => e }.size
        if (r == 1) plansDir.foreach { d =>
          val p = java.nio.file.Paths.get(d, s"$name.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, qe.explainString(FormattedMode))
        }
        // listener events drain asynchronously; give the bus a beat so
        // the counters cover this query's tasks
        Thread.sleep(150)
        println(f"[profileq] $name%-28s  $r  $dt%6.3f  ${c.jobs.get}%4d  ${c.stages.get}%4d  ${c.tasks.get}%6d  ${c.shuffleRead.get / 1e6}%6.1f  ${c.taskTimeMs.get / 1e3}%6.1f  ${c.gcMs.get / 1e3}%5.1f  $reused%5d  plan=$planSec%5.3f")
        graft.SparkEntry.releaseDeadCheckpoints(spark)
      }
    }
    spark.stop()
  }
}
