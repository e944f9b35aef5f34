package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `array<float>` embedding column.
  *
  * Two execution paths, both shuffle-lean:
  *   - [[bruteForceTopK]]: broadcast the (small) query set, compute cosine
  *     per (row × query) inside codegen, keep top-k per query with a
  *     WindowGroupLimit-pruned window. Exact; the 100 TB baseline when the
  *     query set is bounded (the corpus is never shuffled, only scanned).
  *   - [[lshTopK]]: random-hyperplane (sign) LSH — bucket rows by an
  *     h-bit signature, join queries to their own bucket only, rank
  *     within bucket. Approximate; turns the row×query product into a
  *     per-bucket product, the scale path when queries are many.
  *
  * This object also holds the per-query top-k pipeline that every
  * vector-search operator (here, [[Retrieval]], [[Ivf]], [[Pq]], [[Sq]],
  * [[Bq]]) shares: the query list ([[queryList]], capped at
  * [[MaxQueries]]), the query fan-out of a one-scan ANN search
  * ([[fanOut]]), the exact scorer ([[exactScores]]) and the ranking step
  * ([[rankPerQuery]]), which states the determinism contract.
  */
object Similarity {

  /** Driver-side query cap, shared by every operator that takes a query
    * list: each query rides the plan as literals or kernel reference
    * objects (its id, plus a PQ LUT, SQ8 weight table or sign-bit
    * words), so an unbounded list builds an unbounded driver-side model.
    */
  val MaxQueries: Int = 4096

  /** Elementwise cast to double (floats upcast exactly). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Native kernel (graft.functions.VectorKernels): one JIT loop per row,
    * bit-identical to the HOF composition dot/(‖a‖·‖b‖).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpr.cosineSim(a, b)

  /** The ranking step of every per-query top-k, and the one statement of
    * its determinism contract: rows partition by `query_id`, order by
    * `score` (a rounded score column with its direction, so float
    * reassociation cannot reorder near-ties) then `neighbor_id` asc, are
    * numbered `rank` from 1, and only `rank <= k` survives. Equal scores
    * therefore break toward the lower corpus id on any engine. Spark
    * plans the cut as a WindowGroupLimit, Partial before the exchange and
    * Final after it, so each task ships at most k rows per query.
    */
  private[graft] def rankPerQuery(scored: DataFrame, score: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(score, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Exact scoring of (corpus row, query) pairs: drops self pairs (corpus
    * id = query id) and emits (query_id, neighbor_id, carry…, cos_sim),
    * cos_sim being the kernel cosine rounded to `roundTo`. `pairs` holds
    * both ids and both vectors: the broadcast brute-force product
    * `corpus.join(broadcast(queries))`, into whose join condition Catalyst
    * folds the self test, or a candidate join (shortlist, LSH bucket,
    * IVF probe).
    */
  private[graft] def exactScores(pairs: DataFrame, idCol: String, vecCol: String,
                                 qidCol: String, qvecCol: String, roundTo: Int,
                                 carry: Column*): DataFrame =
    pairs.where(col(idCol) =!= col(qidCol))
      .select(Seq(col(qidCol).as("query_id"), col(idCol).as("neighbor_id")) ++ carry :+
        round(cosine(col(vecCol), col(qvecCol)), roundTo).as("cos_sim"): _*)

  /** Fails, naming the knob, when `n` queries exceed [[MaxQueries]]. */
  private[graft] def requireQueryCap(op: String, n: Int): Unit =
    require(n <= MaxQueries,
      s"$op: $n queries exceeds MaxQueries=$MaxQueries — the per-query tables " +
        "are a driver-side broadcast; raise the knob deliberately")

  /** The bounded driver collect of a query frame: (id, vector) pairs
    * from `qidCol` and `qvecCol`, array<float> or array<double>, at most
    * [[MaxQueries]] of them.
    */
  private[graft] def queryList(queries: DataFrame, qidCol: String,
                               qvecCol: String): Seq[(Long, Array[Double])] = {
    val rows = queries.select(col(qidCol), col(qvecCol)).limit(MaxQueries + 1).collect()
    requireQueryCap("query list", rows.length)
    rows.map(r => (r.getAs[Number](0).longValue, Ivf.vecToDouble(r.getSeq[Any](1)))).toSeq
  }

  /** The id of the query at 0-based position `pos` of a driver-side
    * query list; the ids ride the plan as one literal array.
    */
  private[graft] def queryIdAt(queries: Seq[(Long, Array[Double])], pos: Column): Column =
    element_at(array(queries.map(q => lit(q._1)): _*), pos + 1)

  /** The query fan-out of a one-scan ANN search: `scores` holds one score
    * per query for each `encoded` row (id, …); posexplode turns it into
    * (query_id, neighbor_id, `name`) rows, `name` = `score` of the raw
    * element.
    */
  private[graft] def fanOut(encoded: DataFrame, scores: Column,
                            queries: Seq[(Long, Array[Double])], name: String,
                            score: Column => Column): DataFrame =
    encoded.select(col("id").as("neighbor_id"), posexplode(scores))
      .select(queryIdAt(queries, col("pos")).as("query_id"), col("neighbor_id"),
        score(col("col")).as(name))

  /** Exact top-k neighbours per query vector.
    * `queries` must be small (it is broadcast); `corpus` can be arbitrarily
    * large. Ranked by [[rankPerQuery]] on the rounded cosine.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, roundTo: Int = 6): DataFrame =
    rankPerQuery(exactScores(corpus.join(broadcast(queries)), idCol, vecCol,
      qidCol, qvecCol, roundTo), col("cos_sim").desc, k)

  /** Per-label centroid and per-dimension variance of an embedding
    * column — the class-prototype table behind prototype classification,
    * per-class drift monitoring, and centroid seeding for bucketed
    * semantic dedup ([[Dedup.semanticNearDupPairs]]).
    *
    * Scale shape: posexplode fans each vector to d rows, but partial
    * aggregation (map-side combine) collapses every task to ≤
    * |labels|·d partial sums before the one exchange — shuffle volume
    * is dimension-table-sized regardless of corpus size. Variance is
    * the one-pass E[v²] − E[v]² form spelled identically in the DuckDB
    * oracle (values are unit-scale, so no cancellation risk).
    *
    * Returns (label, dim, mean_v, var_v), dim 1-based to match SQL
    * `generate_subscripts`.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
                     roundTo: Int = 6): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(asDouble(col(vecCol))).as(Seq("_pos", "v")))
      .select(col("label"), (col("_pos") + 1).cast("long").as("dim"), col("v"))
      .groupBy(col("label"), col("dim"))
      .agg(
        round(avg(col("v")), roundTo).as("mean_v"),
        round(avg(col("v") * col("v")) - avg(col("v")) * avg(col("v")),
          roundTo).as("var_v"))

  /** h-bit sign-LSH signature of a vector: bit p = sign(v · plane_p).
    * Native kernel (graft.functions.VectorKernels.signLsh).
    */
  def signLshSignature(vec: Column, numPlanes: Int): Column =
    graft.functions.VectorExpr.signLsh(vec, numPlanes)

  /** Exact re-rank of an ANN shortlist — the production two-stage shape
    * (FAISS-style): a cheap approximate stage (ADC / LSH / IVF) keeps
    * c·k candidates per query, then the exact cosine runs ONLY on the
    * survivors. `shortlist` is (query_id, neighbor_id) from any
    * candidate source; corpus vectors rejoin BY ID (one hash join whose
    * probe side is the shortlist — orders of magnitude smaller than the
    * corpus), the query set broadcasts. With a full-coverage shortlist
    * this equals [[bruteForceTopK]] EXACTLY (both score through
    * [[exactScores]] and rank through [[rankPerQuery]]) — asserted in
    * PqSpec; at production nprobe
    * the re-rank repairs ADC quantization error at shortlist cost.
    */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, queries: DataFrame, qidCol: String,
                  qvecCol: String, k: Int, roundTo: Int = 6): DataFrame = {
    val pairs = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(qidCol).as("query_id"),
        col(qvecCol).as("_qv"))), Seq("query_id"))
    rankPerQuery(exactScores(pairs, "neighbor_id", "_cv", "query_id", "_qv", roundTo),
      col("cos_sim").desc, k)
  }

  /** Approximate top-k: candidates = same-signature bucket, ranked by
    * exact cosine within the bucket. Shuffles only (signature, id, vec) —
    * and the join key is a long, so AQE can handle bucket skew.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, numPlanes: Int = 12, roundTo: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      signLshSignature(col(vecCol), numPlanes).as("_sig"))
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("_qv"),
      signLshSignature(col(qvecCol), numPlanes).as("_sig"))
    rankPerQuery(exactScores(c.join(q, Seq("_sig")), "neighbor_id", "_cv",
      "query_id", "_qv", roundTo), col("cos_sim").desc, k)
  }
}
