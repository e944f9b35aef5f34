package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the harness JVM (`run.py` builds it). */
final case class Args(
    workload: String = "",
    seed: Long = 0L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    data: String = "perfbench/data/sf0.1",
    pins: String = "perfbench/pins.tsv",
    work: String = ".bench_build/perfbench",
    corruptPin: Boolean = false,
    profileOut: Option[String] = None,
    pinSet: Option[String] = None,
    stagingOut: Option[String] = None)

object Args {
  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case Nil => acc
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, acc.copy(data = v))
    case "--pins" :: v :: t => parse(t, acc.copy(pins = v))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--corrupt-pin" :: t => parse(t, acc.copy(corruptPin = true))
    case "--profile" :: v :: t => parse(t, acc.copy(profileOut = Some(v)))
    case "--pin" :: v :: t => parse(t, acc.copy(pinSet = Some(v)))
    case "--staging" :: v :: t => parse(t, acc.copy(stagingOut = Some(v)))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, setupS: Double,
                         e2e: Seq[Metric], layers: Seq[Metric], artifact: Map[String, Any])

/** Everything a workload needs: the session, the seeded generator, and the
  * traced-run instruments (absent in untraced runs).
  */
final class Ctx(val spark: SparkSession, val args: Args, val cores: Int,
                val gen: SeededGen, val sessionReadyS: Double,
                val listener: Option[LayerListener]) {
  val spans = new SpanLog
  def traced: Boolean = listener.isDefined
  def work(sub: String): String = Paths.get(args.work, sub).toAbsolutePath.toString
}

object Main {
  /** Heap given to the harness JVM by `run.py`; stated in every artifact. */
  val heap: String = sys.props.getOrElse("perfbench.heap", "?")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv.toList)
    val cores = Runtime.getRuntime.availableProcessors()
    val local = Paths.get(args.work, "spark-local").toAbsolutePath
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionReadyS = (System.currentTimeMillis() - jvmStart) / 1e3
    val listener =
      if (args.trace || args.profileOut.isDefined) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, args, cores, new SeededGen(args.seed), sessionReadyS, listener)

    (args.profileOut, args.pinSet, args.stagingOut) match {
      case (Some(out), _, _) => Surface.profile(ctx, out); spark.stop()
      case (_, Some(set), _) => Surface.pin(ctx, set); spark.stop()
      case (_, _, Some(dir)) => GeoNdjson.writeStaging(ctx, dir); spark.stop()
      case _ =>
        val run = args.workload match {
          case "geonames_ndjson" => GeoNdjson.run(ctx)
          case "surface_driver" => Surface.run(ctx, "driver")
          case "surface_exec" => Surface.run(ctx, "exec")
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        // stop() drains the listener bus, so the traced aggregates below see
        // every task-end event of the run
        spark.stop()
        report(ctx, run())
    }
  }

  private def report(ctx: Ctx, o: Outcome): Unit = {
    val rss = peakRssMb
    val e2e = Metric("setup_s", o.setupS, "s") +: o.e2e :+ Metric("peak_rss_mb", rss, "MB")
    val failedFrac = o.failed.toDouble / math.max(1L, o.attempted)
    if (ctx.traced) {
      val path = Paths.get(ctx.args.work, s"trace-${ctx.args.workload}-seed${ctx.args.seed}.json")
      val spans = (ctx.spans.all ++ ctx.listener.get.sparkSpans).sortBy(_.start).map(s =>
        Seq("name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
          "parent" -> s.parent, "id" -> s.id))
      val doc = Seq(
        "workload" -> ctx.args.workload, "seed" -> ctx.args.seed, "cores" -> ctx.cores,
        "heap" -> heap, "attempted" -> o.attempted, "failed" -> o.failed,
        "failed_frac" -> failedFrac,
        "end_to_end_traced" -> e2e.map(m => m.name -> m.value),
        "per_layer" -> o.layers.map(m => m.name -> Seq("value" -> m.value, "unit" -> m.unit))) ++
        o.artifact.toSeq.sortBy(_._1) :+ ("spans" -> spans)
      Files.writeString(path, Json.render(doc))
      System.err.println(s"[perfbench] trace artifact: $path")
    }
    val shown = if (ctx.traced) o.layers else e2e
    val line = Seq(
      "correct" -> (o.failed == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> shown.map(m => m.name -> Seq("value" -> m.value, "unit" -> m.unit)))
    System.err.println(s"[perfbench] failed_frac=$failedFrac (${o.failed}/${o.attempted})")
    println(Json.render(line))
  }

  /** Timed passes of a run: `--seconds` worth of passes at the workload's
    * nominal pass wall, at least 3. The count depends on `--seconds` only,
    * never on how fast this run goes, so every run of a workload does the
    * same work and stops at the same point of the JVM's warm-up curve.
    */
  def passCount(seconds: Double, nominalPassS: Double): Int =
    math.max(3, math.round(seconds / nominalPassS).toInt)

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Total collection time of every GC MXBean, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** The one seeded generator of the benchmark. It permutes the GeoNames
  * staging rows (seed 0 is the identity, so it reproduces GeoBench's staging
  * byte for byte) and orders the surface queries within each pass.
  */
final class SeededGen(seed: Long) {

  /** Affine bijection i ↦ (a·i + b) mod n of [0, n): identity for seed 0. */
  def affine(n: Long): (Long, Long) =
    if (seed == 0) (1L, 0L)
    else {
      val r = new java.util.Random(seed)
      def coprime(a: Long): Boolean = BigInt(a).gcd(BigInt(n)) == 1
      val a = Iterator.continually(1L + math.floorMod(r.nextLong(), n - 1)).find(coprime).get
      (a, math.floorMod(r.nextLong(), n))
    }

  /** The query order of one pass: a fresh seeded permutation per pass, so no
    * query always follows the same neighbour.
    */
  def passOrder[T](items: Seq[T], pass: Int): Seq[T] =
    new scala.util.Random(new java.util.Random(seed * 1000003L + pass).nextLong()).shuffle(items)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Quantile by linear interpolation between order statistics (position
    * q·(n − 1) of the sorted samples), so a single outlier moves it by a
    * fraction of its excess, not all of it.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  /** Tracing overhead from alternating passes: each traced pass against the
    * mean of its untraced neighbours (which cancels a warm-up trend), then
    * the median ratio, minus 1.
    */
  def traceOverhead(passes: Seq[(Boolean, Double)]): Double = {
    val ratios = passes.indices.filter(passes(_)._1).flatMap { i =>
      val nb = Seq(i - 1, i + 1).filter(j => passes.indices.contains(j) && !passes(j)._1)
      if (nb.isEmpty) None else Some(passes(i)._2 / (nb.map(passes(_)._2).sum / nb.size))
    }
    median(ratios) - 1
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for the artifact and the result line. Objects are
  * `Seq[(String, Any)]` so key order is kept.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => render(m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1))
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true
        case _ => false } =>
      kv.map { case (k: String, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
