package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BqExpr

/** Binary-quantization (1-bit) ANN — the cheapest rung of the
  * compression ladder (float32 → SQ8 → PQ → 1 bit/dim): corpus vectors
  * reduce to sign-bit words (32× smaller than float32, no training
  * pass at all), a single scan XOR+popcounts every query against every
  * row, and the per-query Hamming shortlist re-ranks by EXACT cosine
  * ([[Similarity.rerankExact]]) — the production two-stage shape where
  * stage 1 touches only bit codes and stage 2 touches only
  * shortlist-many float vectors.
  *
  * Scale shape: encode is map-only codegen; the scan scores all Q
  * queries per row fused (one popcount loop inside WholeStageCodegen);
  * the per-query shortlist prunes to r rows per task via
  * WindowGroupLimit BEFORE the shuffle; the re-rank joins Q·r
  * candidate ids back to the corpus — a hash join whose probe side is
  * shortlist-sized, never a second corpus scan. Nothing driver-side
  * scales with corpus rows; queries are a bounded broadcast list
  * (capped at [[Similarity.MaxQueries]]: query codes ride the closure
  * as literal long words, ⌈d/64⌉ per query, and the re-rank broadcasts
  * the query vectors).
  */
object Bq {

  /** Sign-bit pack of one driver-side query vector (bit i = x_i > 0 —
    * the exact contract of the distributed `bq_encode` kernel).
    */
  private[graft] def packSigns(q: Array[Double]): Array[Long] = {
    val words = new Array[Long]((q.length + 63) >>> 6)
    var i = 0
    while (i < q.length) {
      if (q(i) > 0.0) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    words
  }

  /** (id, codes array<long>) — map-only distributed encode. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), BqExpr.encode(col(vecCol)).as("codes"))

  /** Per-query Hamming shortlist over sign-bit codes: one scan scores
    * every query per row (fused XOR+popcount kernel),
    * [[Similarity.fanOut]] turns the distances into (query, distance)
    * rows and [[Similarity.rankPerQuery]] keeps the r closest, hamming
    * ascending (WindowGroupLimit prunes to r per task before the
    * shuffle). Self-matches survive here and are dropped by the re-rank.
    */
  def shortlist(encoded: DataFrame, queries: Seq[(Long, Array[Double])],
                r: Int): DataFrame = {
    require(queries.nonEmpty, "bq shortlist: empty query list")
    Similarity.requireQueryCap("bq shortlist", queries.length)
    val qcodes = queries.map { case (_, q) => packSigns(q) }.toArray
    val scored = Similarity.fanOut(encoded, BqExpr.hamming(col("codes"), qcodes),
      queries, "hamming", identity)
    Similarity.rankPerQuery(scored, col("hamming").asc, r)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
  }

  /** Two-stage top-k: Hamming shortlist of r+1 candidates per query
    * over the 1-bit codes, exact-cosine re-rank of the survivors. The
    * +1 pays for the self-match an IN-CORPUS query always shortlists at
    * Hamming 0 (and the re-rank then drops): without it, r == k would
    * return only k−1 neighbors and every shortlist would waste one slot
    * on self. With r ≥ corpus size this equals
    * [[Similarity.bruteForceTopK]] EXACTLY (asserted in BqSpec); at
    * production r the re-rank repairs the sign-quantization error at
    * shortlist cost. `queries` must expose (qidCol long, qvecCol
    * vector) and be bounded: it is collected through
    * [[Similarity.queryList]] and broadcast.
    */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           queries: DataFrame, qidCol: String, qvecCol: String,
           k: Int, r: Int, roundTo: Int = 6): DataFrame = {
    require(r >= k, s"bq topK: shortlist r=$r must be >= k=$k")
    val qSeq = Similarity.queryList(queries, qidCol, qvecCol)
    // r = Int.MaxValue is the documented "r >= corpus size" brute-force
    // mode; a raw r + 1 would overflow to Int.MinValue and the rank
    // filter would silently return nothing.
    val rr = if (r == Int.MaxValue) r else r + 1
    val sl = shortlist(encode(corpus, idCol, vecCol), qSeq, rr)
    Similarity.rerankExact(sl, corpus, idCol, vecCol,
      queries, qidCol, qvecCol, k, roundTo)
  }
}
