package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scale-curve data generator: tiles the driver's sf0.1 tables into an
  * sfN directory by stacking `reps` replicas with DISJOINT key spaces,
  * so measured sf0.1→sfN time ratios are a property of the PLAN, not of
  * a data-distribution artifact.
  *
  * Construction (deterministic, no RNG — replica index is the only
  * parameter):
  *   - every table's keys (and the matching foreign keys) shift by
  *     replica × (max_key+1 of the base table), so per-key cardinalities
  *     — join fan-outs, group sizes, window partition sizes, shingle
  *     document frequencies — are IDENTICAL to sf0.1 within each
  *     replica. A naive row-copy would instead multiply every per-key
  *     count by `reps` (10 copies of each document = instant dedup
  *     clusters of 10, shingle df ×10, candidate pairs ×100) and the
  *     "scaling curve" would measure that quadratic artifact.
  *   - `region`/`nation` stay fixed (TPC-H semantics: dimensions that
  *     do not grow with sf).
  *   - `documents.text` is token-remapped per replica (token → token +
  *     "q"+replica for replica ≥ 1): token/shingle spaces across
  *     replicas are disjoint, so near-dup/df statistics replicate
  *     per-replica instead of colliding corpus-wide; `n_chars` is
  *     recomputed to keep the invariant n_chars = length(text).
  *   - `embeddings.embedding` is cyclically rotated by `replica`
  *     positions: within-replica geometry (norms, pairwise cosines,
  *     cluster structure) is EXACTLY preserved, while cross-replica
  *     similarities decorrelate — the vector-space analog of the token
  *     remap.
  *   - `events.ts` is left untouched: the time axis does not grow with
  *     sf (10× events over the same month = 10× denser streams, which
  *     is what a bigger deployment looks like), while per-user series
  *     stay identical because user_id shifts.
  *
  * Usage: ScaleData <baseSfDir> <outDir> <reps>
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val (base, out, reps) = (args(0), args(1), args(2).toInt)
    require(reps >= 1, s"reps $reps")
    val spark = ToolSession()

    def keySpan(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Stack `reps` replicas of `df`, applying `shift(df, r)` per replica. */
    def tile(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => shift(df, r)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // fixed dims: do not grow with sf
    write(Tables.region(spark, base), "region", 1)
    write(Tables.nation(spark, base), "nation", 1)

    val cust = Tables.customer(spark, base)
    val custSpan = keySpan(cust, "c_custkey")
    write(tile(cust)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * custSpan))),
      "customer", 4)

    val supp = Tables.supplier(spark, base)
    val suppSpan = keySpan(supp, "s_suppkey")
    write(tile(supp)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppSpan))),
      "supplier", 1)

    val part = Tables.part(spark, base)
    val partSpan = keySpan(part, "p_partkey")
    write(tile(part)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * partSpan))),
      "part", 4)

    val ord = Tables.orders(spark, base)
    val ordSpan = keySpan(ord, "o_orderkey")
    write(tile(ord)((d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * ordSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custSpan))),
      "orders", 8)

    val li = Tables.lineitem(spark, base)
    write(tile(li)((d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordSpan))
        .withColumn("l_partkey", col("l_partkey") + lit(r * partSpan))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppSpan))),
      "lineitem", 16)

    val ev = Tables.events(spark, base) // normalizes nanos → micros ts
    val evSpan = keySpan(ev, "event_id")
    val userSpan = keySpan(ev, "user_id")
    write(tile(ev)((d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * evSpan))
        .withColumn("user_id", col("user_id") + lit(r * userSpan))),
      "events", 8)

    val docs = Tables.documents(spark, base)
    val docSpan = keySpan(docs, "doc_id")
    write(tile(docs)((d, r) =>
      if (r == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(r * docSpan))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"q$r"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents", 8)

    val emb = Tables.embeddings(spark, base)
    val vecSpan = keySpan(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write(tile(emb)((d, r) =>
      if (r == 0) d
      else d.withColumn("vec_id", col("vec_id") + lit(r * vecSpan))
        .withColumn("embedding",
          concat(slice(col("embedding"), r % dim + 1, dim - r % dim),
            slice(col("embedding"), 1, r % dim)))),
      "embeddings", 4)

    println(s"""{"scaled":"$out","reps":$reps}""")
    spark.stop()
  }
}
