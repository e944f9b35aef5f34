package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One span of the traced run: a pass, an op, an op phase, a Spark job or a
  * Spark stage. Times are epoch milliseconds. `id` names the query or the
  * GeoNames stage; Spark jobs and stages carry their numeric ids.
  */
final case class Span(name: String, start: Long, end: Long, parent: String, id: String)

/** Per-job-group totals, aggregated from listener events. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] not covered by any of this group's jobs. */
  def uncoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (to - from) - covered
  }
}

/** Listener for the traced run. Every event is keyed by the job group the
  * harness set before the call that ran it (`pass|query|phase`), so a
  * late task-end event still lands on the op that caused it. Events are
  * only buffered here; [[groups]] and [[sparkSpans]] are read after
  * `SparkSession.stop()`, which drains the listener bus before it returns.
  */
final class LayerListener extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageFirstLaunch = mutable.Map.empty[(Int, Int), Long]
  private val stats = mutable.Map.empty[String, GroupStats]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def group(g: String): GroupStats = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    group(g).jobs += 1
    e.stageIds.foreach { s =>
      if (!stageGroup.contains(s)) { stageGroup(s) = g; stageJob(s) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach { g =>
      val s = jobStart(e.jobId)
      group(g).jobIntervals += ((s, e.time))
      spans += Span(s"job ${e.jobId}", s, e.time, g, e.jobId.toString)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val k = (e.stageId, e.stageAttemptId)
    val t = e.taskInfo.launchTime
    if (stageFirstLaunch.get(k).forall(_ > t)) stageFirstLaunch(k) = t
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "untagged"))
    g.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      g.taskRunMs += m.executorRunTime
      g.taskCpuNs += m.executorCpuTime
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      g.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val k = (i.stageId, i.attemptNumber())
    val gName = stageGroup.getOrElse(i.stageId, "untagged")
    val g = group(gName)
    g.stages += 1
    val submit = stageSubmit.getOrElse(k, i.submissionTime.getOrElse(0L))
    stageFirstLaunch.get(k).foreach(l => g.schedDelayMs += math.max(0L, l - submit))
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    spans += Span(s"stage ${i.stageId}.${i.attemptNumber()}", submit, end,
      stageJob.get(i.stageId).map(j => s"job $j").getOrElse(gName), i.stageId.toString)
  }

  /** Totals for one job group (empty if it ran no job). */
  def groups(g: String): GroupStats = synchronized(stats.getOrElse(g, new GroupStats))

  def sparkSpans: Seq[Span] = synchronized(spans.toList)
}

/** In-memory span log of the harness's own calls, written out at exit. */
final class SpanLog {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String, parent: String, id: String)(f: => T): T = {
    val s = System.currentTimeMillis()
    try f finally spans += Span(name, s, System.currentTimeMillis(), parent, id)
  }

  def all: Seq[Span] = spans.toList
}
