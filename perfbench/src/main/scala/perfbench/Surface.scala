package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.sources.Tables

/** A frozen query of a surface set with its sf0.1 output pin. */
final case class Pin(set: String, query: String, rows: Long, hash: String)

/** One timed query: construction (the `SparkEntry.queries` closure, with
  * any eager driver jobs it runs), planning (`queryExecution.executedPlan`)
  * and execution (`queryExecution.toRdd.count()`, Bench's timed action).
  */
final case class Op(pass: Int, query: String, traced: Boolean, constructS: Double,
                    planS: Double, execS: Double, rows: Long, error: Option[String],
                    execStartMs: Long = 0L, execEndMs: Long = 0L,
                    phasesMs: Map[String, Long] = Map.empty, cuts: Int = 0,
                    reusedExchanges: Int = 0) {
  def wallS: Double = constructS + planS + execS
}

/** The two declared-query workloads, the whole-surface profile that chose
  * their query sets, and the pins that check their outputs.
  */
object Surface {

  /** Wall of one warm pass over a 9-query set on the 4-core reference box;
    * sizes the fixed pass count of a run (see [[Main.passCount]]).
    */
  val nominalPassS = 5.0

  /** Untimed passes of the timed shape before timing starts. The JIT keeps
    * speeding driver-bound queries up for a minute or more of JVM life; the
    * warm passes move the timed window past the steepest part of that curve.
    */
  val warmPasses = 1

  def loadPins(path: String): Seq[Pin] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val f = l.split("\t")
        Pin(f(0), f(1), f(2).toLong, f(3))
      }

  /** Order-insensitive content hash: columns in name order, doubles rounded
    * to 6 decimals (and -0.0 folded into 0.0), one xxhash64 per row, summed
    * exactly. Returns (rows, hash).
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val order = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = order.map { case (f, i) =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"c$i").cast("double"), 6) + lit(0.0)
        case _ => col(s"c$i")
      }
    }
    val r = renamed.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Untimed: does the query's output match its pin (rows and hash)? */
  private def contentOk(ctx: Ctx, p: Pin): Boolean =
    try {
      val (rows, hash) = contentHash(SparkEntry.queries(p.query)(ctx.spark, ctx.args.data))
      val ok = rows == p.rows && hash == p.hash
      if (!ok) System.err.println(
        s"[perfbench] ${p.query}: output $rows rows / hash $hash, pinned ${p.rows} / ${p.hash}")
      ok
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] ${p.query} content check failed: $e"); false
    } finally SparkEntry.releaseDeadCheckpoints(ctx.spark)

  private def runOp(ctx: Ctx, pass: Int, query: String, traced: Boolean): Op = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(query)
    // a traced op tags each phase's Spark jobs with a job group and records
    // the phase as a span of the same name (the parent of those jobs' spans)
    def phase[T](name: String)(f: => T): (T, Double) =
      if (!traced) Stats.timed(f)
      else {
        val g = s"$pass|$query|$name"
        sc.setJobGroup(g, name, interruptOnCancel = false)
        ctx.spans(g, query, query)(Stats.timed(f))
      }
    try {
      val (df, constructS) = phase("construct")(fn(spark, ctx.args.data))
      val (_, planS) = phase("plan")(df.queryExecution.executedPlan)
      val execStart = System.currentTimeMillis()
      val (rows, execS) = phase("exec")(df.queryExecution.toRdd.count())
      val execEnd = System.currentTimeMillis()
      sc.clearJobGroup()
      if (!traced) Op(pass, query, traced, constructS, planS, execS, rows, None)
      else Op(pass, query, traced, constructS, planS, execS, rows, None, execStart, execEnd,
        df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs },
        sc.getPersistentRDDs.size,
        "ReusedExchange".r.findAllIn(df.queryExecution.executedPlan.toString).size)
    } catch {
      case NonFatal(e) =>
        sc.clearJobGroup()
        System.err.println(s"[perfbench] $query failed: ${e.getClass.getName}: ${e.getMessage}")
        Op(pass, query, traced, 0, 0, 0, -1, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally SparkEntry.releaseDeadCheckpoints(spark)
  }

  /** The per-op layer split from the listener, keyed as in the artifact. */
  private def opLayers(ctx: Ctx, o: Op): Seq[(String, Double)] = {
    val l = ctx.listener.get
    val con = l.groups(s"${o.pass}|${o.query}|construct")
    val plan = l.groups(s"${o.pass}|${o.query}|plan")
    val ex = l.groups(s"${o.pass}|${o.query}|exec")
    val all = Seq(con, plan, ex)
    val ph = (k: String) => o.phasesMs.getOrElse(k, 0L) / 1e3
    Seq(
      "wall_s" -> o.wallS,
      "entry.construct_s" -> o.constructS,
      "entry.construct_jobs" -> con.jobs.toDouble,
      "catalyst.plan_wall_s" -> o.planS,
      "catalyst.analysis_s" -> ph("analysis"),
      "catalyst.optimization_s" -> ph("optimization"),
      "catalyst.planning_s" -> ph("planning"),
      "sched.jobs" -> all.map(_.jobs).sum.toDouble,
      "sched.stages" -> all.map(_.stages).sum.toDouble,
      "sched.tasks" -> all.map(_.tasks).sum.toDouble,
      "sched.delay_s" -> all.map(_.schedDelayMs).sum / 1e3,
      "sched.driver_gap_s" -> ex.uncoveredMs(o.execStartMs, o.execEndMs) / 1e3,
      "exec.run_s" -> o.execS,
      "exec.task_run_s" -> ex.taskRunMs / 1e3,
      "exec.task_cpu_s" -> ex.taskCpuNs / 1e9,
      "construct.task_run_s" -> con.taskRunMs / 1e3,
      "shuffle.write_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> all.map(_.shuffleReadBytes).sum.toDouble,
      "shuffle.fetch_wait_s" -> all.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
      "lineage.cuts" -> o.cuts.toDouble,
      "aqe.reused_exchanges" -> o.reusedExchanges.toDouble)
  }

  /** One surface workload over the frozen query set `set` of pins.tsv. */
  def run(ctx: Ctx, set: String): () => Outcome = {
    val spark = ctx.spark
    val pins0 = loadPins(ctx.args.pins).filter(_.set == set)
    require(pins0.nonEmpty, s"no pinned queries for set $set")
    // --corrupt-pin flips the first pin's hash: the self-test that a
    // wrong output is counted as failed
    val pins = if (!ctx.args.corruptPin) pins0
      else pins0.head.copy(hash = pins0.head.hash + "1") +: pins0.tail
    val names = pins.map(_.query)

    // set-up: the `sources` layer's parquet loaders, three times (median),
    // then one untimed pass that checks each query's content against its
    // pin, then untimed warm passes of the timed shape
    val tables = Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders, Tables.lineitem,
      Tables.events, Tables.documents, Tables.embeddings)
    val loads = (1 to 3).map(_ => Stats.timed(tables.foreach(_(spark, ctx.args.data)))._2)
    val (hashOk, checkS) = Stats.timed(pins.map(p => p.query -> contentOk(ctx, p)).toMap)
    val (_, warmS) = Stats.timed((1 to warmPasses).foreach(w =>
      ctx.gen.passOrder(names, -w).foreach(q => runOp(ctx, -w, q, traced = false))))
    val setupS = ctx.sessionReadyS + Stats.median(loads) + checkS + warmS
    System.err.println(f"[perfbench] set-up: session ${ctx.sessionReadyS}%.2f s, " +
      f"parquet loads ${loads.mkString(", ")} s, content check $checkS%.2f s, " +
      f"warm passes $warmS%.2f s")

    // timed passes, closed loop; in a traced run every other pass is traced
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)]
    var pass = 0
    while (pass < Main.passCount(ctx.args.seconds, nominalPassS)) {
      val traced = ctx.traced && pass % 2 == 1
      val gc0 = Main.gcSeconds
      val (_, wall) = Stats.timed(ctx.spans(s"pass $pass", "", "") {
        ctx.gen.passOrder(names, pass).foreach { q =>
          ops += ctx.spans(q, s"pass $pass", q)(runOp(ctx, pass, q, traced))
        }
      })
      passWall += ((pass, traced, wall, Main.gcSeconds - gc0))
      pass += 1
    }

    val pinRows = pins.map(p => p.query -> p.rows).toMap
    val canaryS = if (ctx.traced) Canary.run(spark) else 0.0

    System.err.println("[perfbench] passes: " + passWall.map(p => f"${p._3}%.2f").mkString(" "))

    () => {
      def bad(o: Op) = o.error.isDefined || o.rows != pinRows(o.query) || !hashOk(o.query)
      val untraced = passWall.filterNot(_._2).map(_._3).toSeq
      val measuredOps = ops.filter(o => !o.traced).toSeq
      val passS = Stats.median(untraced)
      val rowsPerPass = pins.map(_.rows).sum.toDouble
      val e2e = Seq(
        Metric("pass_s", passS, "s"),
        Metric("op_p50_s", Stats.median(measuredOps.map(_.wallS)), "s"),
        Metric("op_p90_s", Stats.quantile(measuredOps.map(_.wallS), 0.9), "s"),
        Metric("rows_per_s", rowsPerPass / passS, "rows/s"))
      val base = Seq[(String, Any)](
        "queries_set" -> names, "passes" -> passWall.map { case (p, t, w, g) =>
          Seq("pass" -> p, "traced" -> t, "wall_s" -> w, "gc_s" -> g) },
        "op_samples" -> measuredOps.size,
        "op_samples_beyond_p90" -> measuredOps.count(_.wallS >
          Stats.quantile(measuredOps.map(_.wallS), 0.9)),
        "content_check" -> hashOk.toSeq.sortBy(_._1))
      if (!ctx.traced)
        Outcome(ops.size, ops.count(bad), setupS, e2e, Nil, base.toMap)
      else {
        val tracedOps = ops.filter(_.traced).toSeq
        val perOp = tracedOps.map(o => o -> opLayers(ctx, o).toMap)
        // pass totals, then the median over traced passes; the op gap is
        // the pass wall the ops do not cover (releaseDeadCheckpoints, loop)
        val passTotals = perOp.groupBy(_._1.pass).toSeq.map { case (p, os) =>
          val t = os.flatMap(_._2.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
          t + ("bench.op_gap_s" -> (passWall.find(_._1 == p).get._3 - t("wall_s")))
        }
        def agg(k: String): Double = Stats.median(passTotals.map(_.getOrElse(k, 0.0)))
        val gc = Stats.median(passWall.filter(_._2).map(_._4).toSeq)
        val layers = layerMetrics(agg, ctx.cores, gc, canaryS,
          Stats.traceOverhead(passWall.map(p => (p._2, p._3)).toSeq)) ++ GeoNdjson.absentLayers
        val perQuery = perOp.groupBy(_._1.query).toSeq.sortBy(_._1).map { case (q, os) =>
          q -> os.head._2.keys.toSeq.sorted.map(k => k -> Stats.median(os.map(_._2(k))))
        }
        Outcome(ops.size, ops.count(bad), setupS, e2e, layers,
          (base ++ Seq(
            "per_query" -> perQuery,
            "accounting" -> Seq(
              "op_wall_s" -> agg("wall_s"),
              "entry.construct_s" -> agg("entry.construct_s"),
              "catalyst.plan_wall_s" -> agg("catalyst.plan_wall_s"),
              "exec.run_s" -> agg("exec.run_s"),
              "pass_minus_ops_s" -> agg("bench.op_gap_s"),
              "note" -> ("op wall = construct + plan + exec, each timed around its " +
                "own call, so they add up to it exactly; the pass wall the ops do " +
                "not cover (pass_minus_ops_s) is releaseDeadCheckpoints and the " +
                "pass loop")))).toMap)
      }
    }
  }

  /** The per-layer metrics shared by all workloads, from per-pass totals. */
  def layerMetrics(agg: String => Double, cores: Int, gcS: Double, canaryS: Double,
                   overhead: Double): Seq[Metric] = {
    val runS = agg("exec.run_s")
    Seq(
      Metric("entry.construct_s", agg("entry.construct_s"), "s"),
      Metric("entry.construct_jobs", agg("entry.construct_jobs"), "count"),
      Metric("catalyst.analysis_s", agg("catalyst.analysis_s"), "s"),
      Metric("catalyst.optimization_s", agg("catalyst.optimization_s"), "s"),
      Metric("catalyst.planning_s", agg("catalyst.planning_s"), "s"),
      Metric("catalyst.plan_wall_s", agg("catalyst.plan_wall_s"), "s"),
      Metric("sched.jobs", agg("sched.jobs"), "count"),
      Metric("sched.stages", agg("sched.stages"), "count"),
      Metric("sched.tasks", agg("sched.tasks"), "count"),
      Metric("sched.delay_s", agg("sched.delay_s"), "s"),
      Metric("sched.driver_gap_s", agg("sched.driver_gap_s"), "s"),
      Metric("exec.run_s", runS, "s"),
      Metric("exec.task_run_s", agg("exec.task_run_s"), "s"),
      Metric("exec.task_cpu_s", agg("exec.task_cpu_s"), "s"),
      Metric("exec.cpu_util", agg("exec.task_run_s") / (runS * cores), "ratio"),
      Metric("shuffle.write_bytes", agg("shuffle.write_bytes"), "bytes"),
      Metric("shuffle.read_bytes", agg("shuffle.read_bytes"), "bytes"),
      Metric("shuffle.fetch_wait_s", agg("shuffle.fetch_wait_s"), "s"),
      Metric("shuffle.spill_bytes", agg("shuffle.spill_bytes"), "bytes"),
      Metric("lineage.cuts", agg("lineage.cuts"), "count"),
      Metric("aqe.reused_exchanges", agg("aqe.reused_exchanges"), "count"),
      Metric("jvm.gc_s", gcS, "s"),
      Metric("bench.op_gap_s", agg("bench.op_gap_s"), "s"),
      Metric("host.canary_s", canaryS, "s"),
      Metric("bench.trace_overhead_frac", overhead, "ratio"))
  }

  /** Untimed pins for one set: rows and content hash per query, in the
    * pins.tsv layout (the set's names come from the existing pins file).
    */
  def pin(ctx: Ctx, set: String): Unit = {
    val names = loadPins(ctx.args.pins).filter(_.set == set).map(_.query)
    names.foreach { q =>
      val (rows, hash) = contentHash(SparkEntry.queries(q)(ctx.spark, ctx.args.data))
      SparkEntry.releaseDeadCheckpoints(ctx.spark)
      println(s"$set\t$q\t$rows\t$hash")
    }
  }

  /** Whole-surface traced profile: one untimed warm pass over every declared
    * query, then one traced pass; per-query layer split to `out` (JSON).
    */
  def profile(ctx: Ctx, out: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val warm = names.map(q => q -> runOp(ctx, -1, q, traced = false)).toMap
    val ops = names.filter(q => warm(q).error.isEmpty).map(q => runOp(ctx, 0, q, traced = true))
    ctx.spark.stop()
    val doc = Seq(
      "cores" -> ctx.cores, "heap" -> Main.heap, "data" -> ctx.args.data,
      "queries" -> names.map { q =>
        q -> (warm(q).error match {
          case Some(e) => Seq("error" -> e)
          case None =>
            val o = ops.find(_.query == q).get
            (("cold_wall_s" -> warm(q).wallS) +: ("rows" -> o.rows) +: o.error.map("error" -> _).toSeq) ++
              opLayers(ctx, o)
        })
      })
    Files.writeString(Paths.get(out), Json.render(doc))
  }
}

/** Code-independent machine calibration, the shape of `graft.Bench`'s
  * canary: hashing arithmetic over `range`, a hash repartition, a sort and
  * two aggregates, built from Spark built-ins only.
  */
object Canary {
  def run(spark: org.apache.spark.sql.SparkSession): Double = {
    def once(): Double = Stats.timed {
      spark.range(20000000L)
        .select(col("id"), xxhash64(col("id")).as("h1"))
        .select(col("id"), col("h1"), xxhash64(col("h1")).as("h2"))
        .repartition(64, pmod(col("h1"), lit(64)))
        .sortWithinPartitions(col("h2"))
        .select(pmod(col("h2"), lit(1024)).as("b"), pmod(col("h1"), lit(1000000007L)).as("hm"))
        .groupBy(col("b")).agg(sum(col("hm")).as("s"), count(lit(1)).as("c"))
        .agg(sum(col("s")), sum(col("c")))
        .collect()
    }._2
    once()
    once()
  }
}
