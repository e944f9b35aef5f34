package graft.tools

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the tool mains: `local[n]` with `n`
  * shuffle partitions, UI off, UTC session time zone (as SparkSpec and
  * the forked sbt JVMs use), log level ERROR.
  *
  * `n` defaults to [[cpus]]. A key the JVM was started with as a
  * `-Dspark.*` system property is left to that property (a builder
  * `.config` would override it), so one run can change any of them, e.g.
  *
  *   java -cp … -Dspark.sql.shuffle.partitions=8 graft.tools.HashCalc …
  */
object ToolSession {
  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(n: Int = cpus): SparkSession = {
    val defaults = Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC")
    val spark = defaults.filterNot { case (k, _) => sys.props.contains(k) }
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
