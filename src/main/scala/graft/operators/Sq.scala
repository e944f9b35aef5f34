package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SqExpr

/** Scalar (int8) quantization ANN — the vector-database default
  * compression tier between raw floats and PQ codebooks: each dimension
  * of the L2-normalized vector maps to one byte against per-dimension
  * (min, max) bounds trained from the corpus (FAISS
  * `ScalarQuantizer/QT_8bit`). 4× smaller than float32; at typical
  * embedding dimensionalities the decode grid is fine enough that
  * top-k by SQ8 score matches exact-cosine top-k almost everywhere
  * (recall measured in SqSpec), making it the right first compression
  * step before PQ's lossier codebooks.
  *
  * Scale shape (the [[Pq]] discipline): bounds train as ONE bounded
  * d-row aggregate over the corpus — posexplode of the normalize
  * kernel, grouped by dimension index, never a driver pass over rows;
  * encode is map-only codegen; search is one scan of the byte codes
  * scoring all queries per row (fused byte-dot kernel), a posexplode
  * fan-out and a WindowGroupLimit-pruned per-query top-k. Nothing
  * driver-side ever scales with corpus rows.
  */
object Sq {

  /** Per-dimension quantization bounds over the NORMALIZED corpus. */
  case class Bounds(mins: Array[Double], deltas: Array[Double])

  /** Driver-side model dimension cap (the PQ-codebook / PCA-eigensolve
    * precedent): bounds are 2·d doubles.
    */
  val MaxDims: Int = 4096

  /** Train (min, Δ) per dimension: one distributed aggregate over the
    * bounded dimension axis; only d rows ever reach the driver.
    */
  def train(corpus: DataFrame, vecCol: String): Bounds = {
    val rows = corpus.where(col(vecCol).isNotNull)
      .select(posexplode(SqExpr.l2normalize(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.nonEmpty, "sq train: no non-null vectors")
    require(rows.length <= MaxDims,
      s"sq train: dimension ${rows.length} exceeds MaxDims=$MaxDims — " +
        "the bounds model is driver-side; raise the knob deliberately")
    val d = rows.length
    val mins = new Array[Double](d)
    val deltas = new Array[Double](d)
    rows.foreach { r =>
      val i = r.getInt(0)
      mins(i) = r.getDouble(1)
      deltas(i) = r.getDouble(2) - r.getDouble(1)
    }
    Bounds(mins, deltas)
  }

  /** (id, codes binary) — map-only distributed encode. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             b: Bounds): DataFrame =
    corpus.select(col(idCol).as("id"),
      SqExpr.encode(col(vecCol), b.mins, b.deltas).as("codes"))

  /** Approximate top-k per query over SQ8 codes: one scan of the
    * encoded corpus scores every query per row (score = exact dot of
    * the normalized query with the decoded grid point, computed as
    * const_q + Σ w_q(i)·code_i without materializing the decode),
    * [[Similarity.fanOut]] turns the scores into (query, score) rows and
    * [[Similarity.rankPerQuery]] keeps k per query on the rounded score
    * (WindowGroupLimit prunes to k per task before the shuffle).
    * `queries` is a bounded driver-side list: its Q×d weight tables ride
    * the scoring kernel as reference objects, so it is capped at
    * [[Similarity.MaxQueries]]. Self-matches are kept (the [[Pq.topK]]
    * contract).
    */
  def topK(encoded: DataFrame, b: Bounds,
           queries: Seq[(Long, Array[Double])], k: Int,
           roundTo: Int = 6): DataFrame = {
    require(queries.nonEmpty, "sq topK: empty query list")
    Similarity.requireQueryCap("sq topK", queries.length)
    val d = b.mins.length
    val qns = queries.map { case (_, q) => Ivf.normalize(q) }
    val weights = qns.map { qn =>
      require(qn.length == d, s"sq topK: query dim ${qn.length} != corpus dim $d")
      Array.tabulate(d)(i => qn(i) * b.deltas(i) / 255.0)
    }.toArray
    val consts = qns.map(qn => (0 until d).map(i => qn(i) * b.mins(i)).sum).toArray
    val scored = Similarity.fanOut(encoded, SqExpr.scores(col("codes"), weights, consts),
      queries, "sq_score", round(_, roundTo))
    Similarity.rankPerQuery(scored, col("sq_score").desc, k)
  }
}
