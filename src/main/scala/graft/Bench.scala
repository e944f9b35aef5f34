package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Render the driver-facing stdout JSON line. Extracted so the two
    * contract properties are unit-testable (BenchLineSpec):
    *   - a query that failed every rep appears ONLY in "failed" — never
    *     in the per-query map or the total (a 0.0 would make a broken
    *     query look like a speedup);
    *   - the line stays ≤ 1950 chars (the driver captures a 2000-char
    *     stdout tail; r01/r02 had parsed:null because the old line outgrew
    *     it, r03 because sbt's logger prefixed it with "[info] " — fixed
    *     via run/outputStrategy in build.sbt) via a precision/truncation
    *     ladder, keeping the slowest queries when truncation is forced.
    */
  private[graft] def renderLine(ok: Seq[(String, Double)], failed: Seq[String],
                                sfName: String,
                                canarySec: Double = -1.0,
                                canaryStrSec: Double = -1.0): String = {
    val total = ok.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // machine-era anchors: two fixed, code-independent calibration
    // workloads (long-arithmetic/shuffle + string/expansion — distinct
    // workload classes ride era changes by different factors, the r12
    // adjudication finding), so absolute-seconds shifts between rounds
    // divide out as (total/canary) instead of needing attribution
    // archaeology (the r9/r10 era-drift postmortems)
    val canary = (if (canarySec >= 0) f""","canary":$canarySec%.3f""" else "") +
      (if (canaryStrSec >= 0) f""","canary_str":$canaryStrSec%.3f""" else "")
    def emit(fmt: String, keep: Int): String = {
      val kept = if (keep >= ok.length) ok else ok.sortBy(-_._2).take(keep)
      val qs = kept.sortBy(_._1).map { case (k, mn) => s""""$k":${fmt.format(mn)}""" }
        .mkString("{", ",", "}")
      val trunc = if (keep >= ok.length) "" else s""","qtrunc":${ok.length - keep}"""
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"failed":$failedJson$trunc$canary,"sf":"$sfName"}"""
    }
    Seq(emit("%.2f", Int.MaxValue), emit("%.1f", Int.MaxValue), emit("%.1f", 40))
      .find(_.length <= 1950).getOrElse(emit("%.1f", 20))
  }

  /** Machine-era canary: a pinned, CODE-INDEPENDENT calibration workload
    * built only from Spark built-ins over a constant in-memory dataset —
    * deterministic arithmetic on `range` (no RNG, no files, none of this
    * library's code), shuffled through a sort and a hash aggregate so it
    * exercises the same CPU/shuffle/GC machinery the query surface does.
    * Its wall time moves ONLY when the machine era moves, so per-query
    * floors divide by it to compare across rounds (BENCH carries the raw
    * seconds; THROUGHPUT.md states floors in canary units).
    */
  private[graft] def canaryRun(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val n = 20000000L
    // summands are mod-reduced: a raw sum of n random 64-bit hashes
    // overflows long, which ANSI mode (the Spark 4 default) turns into
    // a query failure
    spark.range(n)
      .select(col("id"), xxhash64(col("id")).as("h1"))
      .select(col("id"), col("h1"), xxhash64(col("h1")).as("h2"))
      .repartition(64, pmod(col("h1"), lit(64)))
      .sortWithinPartitions(col("h2"))
      .select(pmod(col("h2"), lit(1024)).as("b"),
        pmod(col("h1"), lit(1000000007L)).as("hm"))
      .groupBy(col("b")).agg(sum(col("hm")).as("s"), count(lit(1)).as("c"))
      .agg(sum(col("s")), sum(col("c")))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Second machine-era canary, STRING/EXPANSION-bound where [[canaryRun]]
    * is long-arithmetic/shuffle-bound: base-36 token materialization,
    * split + explode (8× row expansion), substring keys, string group-by.
    * The r12 adjudication showed the two workload classes do NOT ride a
    * box-era change by the same factor (the hash canary sped up 23%
    * while string/expansion-heavy queries held flat, producing six
    * spurious normalized flags); from r12 on both canaries ship in every
    * artifact and bench_compare normalizes each query by the flavor that
    * incriminates it LEAST — a query is only flagged when it regressed
    * under BOTH eras' anchors. Same determinism contract as canaryRun:
    * Spark built-ins only, constant data, no RNG, no files.
    */
  private[graft] def canaryStringRun(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(2000000L)
      .select(concat_ws(" ", (0 until 8).map(i =>
        conv(pmod(xxhash64(col("id") * lit(8) + lit(i)), lit(1000000007L))
          .cast("string"), 10, 36)): _*).as("s"))
      .select(explode(split(col("s"), " ")).as("tok"))
      .groupBy(substring(col("tok"), 1, 2).as("pfx"))
      .agg(count(lit(1)).as("c"), sum(length(col("tok"))).as("l"))
      .agg(sum(col("c")), sum(col("l")))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The only unpartitioned windows in the library run over provably
    // bounded block/seed tables (WindowAuditSpec pins the exact
    // allowlist and fails on any new one), so WindowExec's
    // single-partition warning here is pure noise that floods the
    // driver-captured tail and masks real regressions — silence just
    // that logger; regressions stay visible at test time via the audit.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // The between-query lineage-cut sweep (releaseDeadCheckpoints)
    // makes every RDD class log "locally checkpointed ... cannot be
    // recomputed after unpersisting" — true and intended (the RDDs are
    // dead); silence the rdd package so hundreds of them don't flood
    // the driver-captured tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // Untimed warmup: JVM/codegen/parquet-reader spin-up should not be
    // attributed to whichever query happens to run first.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Canary: one untimed JIT pass, then two timed runs bracketing the
    // surface (one here, one after the last pass) — the min is the
    // machine-era anchor, and the pair's spread shows intra-run drift.
    canaryRun(spark)
    val canaryStart = canaryRun(spark)
    canaryStringRun(spark)
    val canaryStrStart = canaryStringRun(spark)
    // sorted: stable execution order across rounds (Map hash order is
    // arbitrary and makes per-query cross-round comparison noisy)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // min of `reps` runs per query: single-shot timings at this scale are
    // dominated by JIT/GC happenstance of whatever ran before (observed
    // 0.35 s ↔ 1.7 s swings on unchanged queries across JVMs); the min is
    // the stable estimator for cross-round comparison.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // optional comma-separated name filter for local iteration on a few
    // queries (the driver never sets it, so round numbers stay complete)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_BENCH_ORDER=desc reverses execution order: the r9
    // noise audit found multi-second machine transients (fixture
    // writeback / GC after driver-side asset builds) inflating RUNS of
    // alphabetically-consecutive queries in BOTH reps — min across an
    // ascending and a descending run puts every query far from the
    // transient in at least one run, which per-query rep minima cannot.
    val desc = sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("desc")
    def selected = {
      val s = SparkEntry.queries.toSeq
        .filter { case (n, _) => only.forall(_.contains(n)) }.sortBy(_._1)
      if (desc) s.reverse else s
    }
    // Single-rep mode gets an untimed warm pass over EVERY query first:
    // it builds the process-lifetime fixtures (PNG/WAV corpora, bucketed
    // tables, shared shingle/pair checkpoints) and JITs each plan's
    // codegen, so the one timed rep measures the query, not per-process
    // setup. With reps ≥ 2 the first timed rep plays that role and the
    // min discards it — either way each query executes exactly twice and
    // the reported number is a warm one, comparable across rounds.
    if (reps == 1)
      selected.foreach { case (name, fn) =>
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          System.err.println(s"[bench-warm] $name: ${e.getClass.getName}") }
        SparkEntry.releaseDeadCheckpoints(spark)
      }
    // Reps run as WHOLE-SURFACE PASSES in alternating order (pass 0 in
    // `selected` order, pass 1 reversed, …), NOT back-to-back per query:
    // the r9 noise audit proved the box carries multi-second time-local
    // transients (fixture writeback / GC) that inflate runs of
    // consecutive queries — and two consecutive reps of one query sit at
    // the same process moment, so the per-query min could not cancel
    // them (the r9 driver total carried ~15 s of exactly such
    // concentrated single-run spikes over the cross-JVM warm minima).
    // Pass-separated reps put each query's samples far apart in time AND
    // order, which is the same cancellation the cross-run ascending +
    // descending minima methodology applies between JVMs.
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    val cold = scala.collection.mutable.Map.empty[String, Double]
    for (pass <- 0 until reps) {
      val order = if (pass % 2 == 1) selected.reverse else selected
      order.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        // toRdd executes the query's OWN physical plan (projections, sorts
        // and all); a plain count() would let Catalyst prune the computed
        // columns and time only the scan for map-shaped queries.
        try {
          fn(spark, sfDir).queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          times(name) = dt :: times.getOrElse(name, Nil)
          if (pass == 0) cold(name) = dt
        } catch { case e: Throwable =>
          if (!failed.contains(name)) failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
        // Dead-block hygiene between queries: every lineage cut at this
        // point is a per-query intermediate (shared fixtures are parquet
        // files) — dropping them now keeps block storage flat
        // across the 230-query run instead of accumulating until late
        // queries pay eviction/GC pressure (the r6 driver-total artifact).
        SparkEntry.releaseDeadCheckpoints(spark)
      }
    }
    val canaryEnd = canaryRun(spark)
    val canaryStrEnd = canaryStringRun(spark)
    val canary = math.min(canaryStart, canaryEnd)
    val canaryStr = math.min(canaryStrStart, canaryStrEnd)
    // times lists are built by PREPENDING, so .last is the EARLIEST
    // successful sample — the right first-rep fallback when pass 0
    // failed (head would ship a warm late-pass time labeled cold)
    val ok = selected.collect { case (k, _) if times.getOrElse(k, Nil).nonEmpty =>
      (k, times(k).min, cold.getOrElse(k, times(k).last)) }
    // Methodology + first-rep (cold) detail go to a FILE, not stderr: if
    // the driver captures merged stdout+stderr, a long detail line would
    // eat the 2000-char tail budget the compact line must fit in (this is
    // exactly what polluted the r03 tail).
    val coldJson = ok.map { case (k, _, c) => f""""$k":$c%.2f""" }.mkString("{", ",", "}")
    val fullMin = ok.map { case (k, mn, _) => f""""$k":$mn%.3f""" }.mkString("{", ",", "}")
    val detail =
      f"""{"reps":$reps,"agg":"min","canary_start":$canaryStart%.3f,""" +
        f""""canary_end":$canaryEnd%.3f,"canary_str_start":$canaryStrStart%.3f,""" +
        f""""canary_str_end":$canaryStrEnd%.3f,"queries_min":$fullMin,""" +
        s""""first_rep":$coldJson}"""
    try {
      val f = java.nio.file.Paths.get("target", "bench-detail.json")
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => System.err.println(s"[bench-detail] $detail") }
    println(renderLine(ok.map { case (k, mn, _) => (k, mn) },
      failed.toSeq, new java.io.File(sfDir).getName, canary, canaryStr))
    spark.stop()
  }
}
