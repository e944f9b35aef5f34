package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}

/** The engine's one lineage cut: every library site that truncates a
  * plan goes through [[cut]], and [[releaseAll]] frees only what it made.
  *
  * A cut is a LAZY local checkpoint. The plan is replaced by a
  * `LogicalRDD` at once; adaptive execution still runs the shuffle
  * stages under the cut to plan its final stage, but that final stage
  * runs inside the first job that consumes the cut, once per partition
  * (the BlockManager serializes same-partition computes across
  * concurrent consumers) — an eager cut is one more job. Its RDD is
  * named `graft-cut:<site>`, which is how the cut shows in
  * `getPersistentRDDs` and in the formatted plan
  * (`Scan ExistingRDD graft-cut:<site>`).
  *
  * `reliable = true` takes an eager reliable `checkpoint()` instead: the
  * blocks survive executor loss (a local checkpoint's die with their
  * executor). It needs a checkpoint dir; if none is set, a process-local
  * temp dir is used (fine in local mode; on a cluster set
  * `sparkContext.setCheckpointDir` to shared storage first). It stays
  * eager because `RDD.checkpoint()` after an unpersisted action
  * recomputes the plan to write the file.
  */
object Lineage {

  /** Name prefix of every cut's RDD. */
  val Prefix = "graft-cut:"

  /** The plan of every live cut. Its SQL metrics must outlive the lineage
    * truncation: a task of a second job that also computed the cut still
    * reports to them, and an update to a collected metric is lost
    * ("attempted to access non-existent accumulator").
    */
  private val sources = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], QueryExecution]())

  def cut(df: DataFrame, site: String, reliable: Boolean = false): DataFrame = {
    val c =
      if (reliable) {
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
        df.checkpoint(eager = true)
      } else df.localCheckpoint(eager = false)
    rddOf(c).setName(Prefix + site)
    sources.put(rddOf(c), df.queryExecution)
    c
  }

  /** Free the blocks behind one cut. `Dataset.unpersist()` does not: the
    * cut's RDD is not in the cache manager. The caller must know that no
    * unmaterialized plan still reads `c`.
    */
  def release(c: DataFrame): Unit = rddOf(c).unpersist(blocking = false)

  /** Free every cut still registered with the context, leaving a
    * caller's own `cache()`/`persist()` alone.
    */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .filter(r => r.name != null && r.name.startsWith(Prefix))
      .foreach(_.unpersist(blocking = false))

  private def rddOf(c: DataFrame): RDD[_] = c.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => throw new IllegalArgumentException(s"not a lineage cut: ${p.nodeName}")
  }
}
