package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbour index — the scale
  * path for similarity search when the query set is too large for the
  * brute-force broadcast (Similarity.bruteForceTopK) and sign-LSH
  * recall is insufficient.
  *
  * Build: deterministic seed centroids (lowest ids) → Lloyd assignment
  * iterations. Assignment is MAP-ONLY: the (bounded, ≲√N) centroid set
  * is collected to the driver, normalized, and embedded in a
  * `nearest_centroid` kernel expression as codegen reference objects —
  * no crossJoin, no per-iteration shuffle of the corpus (the previous
  * crossJoin+min_by formulation shuffled every vector once per Lloyd
  * iteration). Recompute = [[CentroidAgg]], a typed Aggregator UDAF
  * (one bounded shuffle per iteration, keyed by cluster). Search: probe
  * only the `nprobe` clusters nearest to each query — the row×query
  * product shrinks to row×query-per-cluster.
  *
  * Centroid count is a bounded dimension, so the driver collect is the
  * sanctioned "small dim" pattern (same bound as broadcasting it);
  * vectors are never collected to the driver.
  */
object Ivf {

  /** Decode a collected vector cell to doubles regardless of whether the
    * column was array<float> or array<double> — the kernel expressions
    * accept both, so the driver-side collect sites must too.
    */
  private[graft] def vecToDouble(s: Seq[Any]): Array[Double] =
    s.map {
      case f: Float => f.toDouble
      case d: Double => d
      case x => throw new IllegalArgumentException(
        s"vector element ${x.getClass.getName}; expected float or double")
    }.toArray

  /** L2-normalize a driver-side vector; a zero vector stays as it is.
    * The one normalize behind the centroid table, the PQ codebooks and
    * LUTs and the SQ8 query weights.
    */
  private[graft] def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** Typed Aggregator computing the elementwise mean of float vectors —
    * the custom-UDAF surface (SURVEY.md §2.4 A7), registered per-use via
    * `udaf()`. Buffer is (sums, count); merge is elementwise — classic
    * commutative/associative shape, safe for partial aggregation.
    */
  case class CentBuf(sums: Array[Double], n: Long)

  class CentroidAgg extends Aggregator[Seq[Float], CentBuf, Seq[Float]] {
    override def zero: CentBuf = CentBuf(Array.emptyDoubleArray, 0L)
    override def reduce(b: CentBuf, v: Seq[Float]): CentBuf = {
      val s = if (b.sums.isEmpty) new Array[Double](v.length) else b.sums
      var i = 0
      while (i < v.length) { s(i) += v(i); i += 1 }
      CentBuf(s, b.n + 1)
    }
    override def merge(a: CentBuf, b: CentBuf): CentBuf =
      if (a.sums.isEmpty) b
      else if (b.sums.isEmpty) a
      else {
        val s = a.sums.clone()
        var i = 0
        while (i < s.length) { s(i) += b.sums(i); i += 1 }
        CentBuf(s, a.n + b.n)
      }
    override def finish(b: CentBuf): Seq[Float] =
      if (b.n == 0) Seq.empty else b.sums.map(x => (x / b.n).toFloat).toSeq
    override def bufferEncoder: Encoder[CentBuf] = Encoders.product[CentBuf]
    override def outputEncoder: Encoder[Seq[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()
  }

  /** Column-API centroid aggregate. */
  def centroid(vec: Column): Column =
    udaf(new CentroidAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()).apply(vec)

  /** Collect the bounded centroid table and pre-normalize it for the
    * argmax-dot kernel (argmax cosine ≡ argmax dot after normalization —
    * the row's own norm is constant across centroids). Sorted by
    * cluster_id so kernel tie-breaking (lowest index) is deterministic.
    */
  private def collectCentroids(centroids: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = centroids.select(col("cluster_id"), col("cvec")).collect()
      .map(r => (r.getLong(0), normalize(vecToDouble(r.getSeq[Any](1)))))
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Map-only nearest-centroid assignment via the kernel expression. */
  private def assign(vectors: DataFrame, idCol: String, vecCol: String,
                     ids: Array[Long], cents: Array[Array[Double]]): DataFrame =
    vectors.select(col(idCol), col(vecCol),
      graft.functions.VectorExpr.nearestCentroid(col(vecCol), ids, cents).as("cluster_id"))

  /** Build the index: returns (assignments, centroids).
    * assignments: (id, vec, cluster_id); centroids: (cluster_id, cvec).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            numCentroids: Int, lloydIters: Int = 1): (DataFrame, DataFrame) = {
    // deterministic seeds: the numCentroids lowest ids, labeled by their
    // OWN id (not a 1..k rank) — cluster ids only need to be distinct,
    // deterministic longs, and ordering by seed id is the same total
    // order the old rank gave, so tie-breaking is unchanged while the
    // single-partition row_number window (and its WindowExec warning)
    // disappears entirely: the seed step is now map-only after the top-k
    var centroids = corpus.orderBy(col(idCol)).limit(numCentroids)
      .select(col(idCol).cast("long").as("cluster_id"), col(vecCol).as("cvec"))
    var assignments: DataFrame = null
    var it = 0
    while (it <= lloydIters) {
      val (ids, cents) = collectCentroids(centroids)
      assignments = assign(corpus, idCol, vecCol, ids, cents)
      if (it < lloydIters)
        // explicit narrow to array<float>: CentroidAgg's input encoder is
        // Seq[Float], and an array<double> vecCol must not depend on
        // implicit UDAF input coercion
        centroids = assignments
          .groupBy(col("cluster_id"))
          .agg(centroid(col(vecCol).cast("array<float>")).as("cvec"))
      it += 1
    }
    (assignments, centroids)
  }

  /** Approximate top-k: search only the nprobe closest clusters per
    * query. One shuffle on cluster_id (corpus side is the build output),
    * then exact cosine ranked by [[Similarity.rankPerQuery]], self
    * excluded.
    */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           queries: DataFrame, qidCol: String, qvecCol: String,
           k: Int, numCentroids: Int, nprobe: Int = 2,
           roundTo: Int = 6): DataFrame = {
    val (assignments, centroids) = build(corpus, idCol, vecCol, numCentroids)
    // nprobe nearest clusters per query
    val probeW = Window.partitionBy(col(qidCol))
      .orderBy(col("_csim").desc, col("cluster_id").asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col(qidCol), col(qvecCol), col("cluster_id"),
        Similarity.cosine(col(qvecCol), col("cvec")).as("_csim"))
      .withColumn("_pr", row_number().over(probeW))
      .where(col("_pr") <= nprobe)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("_qv"), col("cluster_id"))
    val pairs = assignments
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"), col("cluster_id"))
      .join(probes, Seq("cluster_id"))
    Similarity.rankPerQuery(Similarity.exactScores(pairs, "neighbor_id", "_cv",
      "query_id", "_qv", roundTo), col("cos_sim").desc, k)
  }
}
