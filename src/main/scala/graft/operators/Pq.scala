package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.PqExpr

/** Product quantization ANN: compress each (L2-normalized) vector to
  * `m` one-byte codebook indices, then answer top-k inner-product
  * (= cosine, post-normalization) queries by asymmetric distance
  * computation — per corpus row, m table lookups per query instead of a
  * dim-wide float loop.
  *
  * Why this is the 100 TB embedding path: the corpus is stored and
  * scanned as m bytes/vector (16× smaller than float32 at dim=64,
  * m=16; 192× at dim=768, m=16), codebooks and LUTs are kilobytes
  * broadcast inside the plan as literals, queries all share ONE corpus
  * scan, and the only exchange is the top-k window's (query, id, score)
  * rows — already pruned map-side by WindowGroupLimit. Training
  * collects only a bounded sample (the [[Dedup.clusters]] bounded-
  * driver-work discipline).
  *
  * Determinism: training inits from the first k distinct sample points
  * and breaks assignment ties toward the lower index; no RNG anywhere.
  */
object Pq {

  /** cents(s) = subspace s's k centroids, flattened k·subDim doubles. */
  case class Codebooks(m: Int, k: Int, subDim: Int, cents: Array[Array[Double]])

  /** Largest training sample the driver will hold (the FAISS pattern:
    * codebooks train on a bounded sample, never the corpus); an
    * oversized sampleN knob fails loudly instead of OOMing the collect.
    */
  val MaxTrainSample: Int = 1000000

  /** Train per-subspace k-means codebooks on a driver-side sample.
    * `sampleN` bounds driver memory (sampleN·dim doubles); pass a
    * pre-shuffled frame if the corpus's leading partitions are not
    * representative. Vectors are L2-normalized before training, so ADC
    * scores approximate cosine.
    */
  def train(corpus: DataFrame, vecCol: String, m: Int, k: Int = 256,
            sampleN: Int = 10000, iters: Int = 10): Codebooks = {
    require(sampleN > 0 && sampleN <= MaxTrainSample,
      s"pq train: sampleN=$sampleN outside (0, MaxTrainSample=" +
        s"$MaxTrainSample] — codebook training collects the sample to " +
        "the driver; lower the sampleN knob")
    val rows: Array[Array[Double]] = corpus.select(col(vecCol)).limit(sampleN)
      .collect().map { r: Row => Ivf.normalize(Ivf.vecToDouble(r.getSeq[Any](0))) }
    trainOn(rows, m, k, iters)
  }

  /** Train codebooks on IVF residuals (normalized vector − its cluster's
    * normalized centroid): residual magnitudes on clustered data are a
    * fraction of raw magnitudes, so the same m·k codebook budget spends
    * its resolution where the corpus actually varies — the standard
    * FAISS IVF-PQ composition. `ids` must be sorted; `cnorm` normalized.
    */
  def trainResidual(assignments: DataFrame, vecCol: String, clusterCol: String,
                    ids: Array[Long], cnorm: Array[Array[Double]], m: Int,
                    k: Int = 256, sampleN: Int = 10000, iters: Int = 10): Codebooks = {
    require(sampleN > 0 && sampleN <= MaxTrainSample,
      s"pq trainResidual: sampleN=$sampleN outside (0, MaxTrainSample=" +
        s"$MaxTrainSample] — codebook training collects the sample to " +
        "the driver; lower the sampleN knob")
    val rows: Array[Array[Double]] = assignments
      .select(col(vecCol), col(clusterCol)).limit(sampleN)
      .collect().map { r: Row =>
        val x = Ivf.normalize(Ivf.vecToDouble(r.getSeq[Any](0)))
        val ci = java.util.Arrays.binarySearch(ids, r.getLong(1))
        require(ci >= 0, s"pq trainResidual: unknown cluster ${r.getLong(1)}")
        val c = cnorm(ci)
        Array.tabulate(x.length)(i => x(i) - c(i))
      }
    trainOn(rows, m, k, iters)
  }

  private def trainOn(rows: Array[Array[Double]], m: Int, k: Int,
                      iters: Int): Codebooks = {
    require(rows.nonEmpty, "pq train: empty sample")
    val dim = rows.head.length
    require(dim % m == 0, s"pq train: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val cents = Array.tabulate(m) { s =>
      val pts = rows.map(_.slice(s * subDim, (s + 1) * subDim))
      lloyd(pts, k, subDim, iters)
    }
    Codebooks(m, k, subDim, cents)
  }

  /** Plain Lloyd with deterministic init (first k value-distinct points)
    * and empty-cluster carry-over; ALWAYS returns k·subDim flattened
    * centroids. When the sample has fewer than k distinct sub-vectors,
    * only the first `kEff` slots are trained and the rest duplicate the
    * last trained centroid — the LUT layout stays rectangular and
    * encode/lut loops over the full k stay in bounds (duplicate slots
    * are never argmin-preferred over the identical earlier slot because
    * ties break toward the lower index).
    */
  private def lloyd(pts: Array[Array[Double]], k: Int, subDim: Int,
                    iters: Int): Array[Double] = {
    // value-based distinct: Array equality is reference equality, so
    // dedup via toSeq before taking the first-k init points
    val init = pts.map(_.toSeq).distinct.take(k).map(_.toArray)
    val kEff = init.length
    val cents = Array.tabulate(kEff)(c => init(c).clone())
    val assign = new Array[Int](pts.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          var d = 0.0; var j = 0
          while (j < subDim) { val diff = p(j) - cents(c)(j); d += diff * diff; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(kEff)(new Array[Double](subDim))
      val counts = new Array[Int](kEff)
      i = 0
      while (i < pts.length) {
        val c = assign(i); counts(c) += 1
        var j = 0
        while (j < subDim) { sums(c)(j) += pts(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var j = 0
          while (j < subDim) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } // empty cluster: keep previous centroid
        c += 1
      }
      it += 1
    }
    // pad to the requested k: slots beyond kEff repeat the last trained
    // centroid so downstream encode/lut can loop c < k unconditionally
    val flat = new Array[Double](k * subDim)
    var c = 0
    while (c < k) {
      System.arraycopy(cents(math.min(c, kEff - 1)), 0, flat, c * subDim, subDim)
      c += 1
    }
    flat
  }

  /** (id, codes binary) — map-only distributed encode. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cb: Codebooks): DataFrame =
    corpus.select(col(idCol).as("id"),
      PqExpr.encode(col(vecCol), cb.subDim, cb.k, cb.cents).as("codes"))

  /** Per-query LUT: lut(s·k + c) = q_sub(s) · cent(s, c) over the
    * normalized query.
    */
  private def lut(cb: Codebooks, q: Array[Double]): Array[Double] = {
    val qn = Ivf.normalize(q)
    val out = new Array[Double](cb.m * cb.k)
    var s = 0
    while (s < cb.m) {
      val cs = cb.cents(s)
      var c = 0
      while (c < cb.k) {
        var d = 0.0; var j = 0
        while (j < cb.subDim) { d += qn(s * cb.subDim + j) * cs(c * cb.subDim + j); j += 1 }
        out(s * cb.k + c) = d
        c += 1
      }
      s += 1
    }
    out
  }

  /** IVF-PQ — the standard production ANN composition: an IVF coarse
    * index routes each query to its `nprobe` nearest clusters, and PQ
    * codes are ADC-scored ONLY inside those clusters. Per query the
    * scanned fraction is ≈ nprobe/numCentroids of the corpus, each row
    * costing m byte-indexed lookups; the probed-cluster↔query pair
    * table is tiny and broadcast, so the corpus side is one
    * broadcast-hash-join + WindowGroupLimit-pruned top-k — the corpus
    * itself shuffles only once, at IVF build, keyed by cluster.
    *
    * `queries` is bounded ([[Similarity.MaxQueries]]) and driver-side
    * (LUTs are literals in the plan); centroids are the already-bounded
    * IVF dimension. Ranked by [[Similarity.rankPerQuery]] on the rounded
    * ADC score; self-matches are kept, as in [[topK]].
    *
    * `residual = true` (default) trains the codebooks on IVF residuals
    * and scores as q·c (exact, a probe-table constant) + q·PQ(residual)
    * (LUT lookups) — the same plan shape, markedly lower quantization
    * error on clustered data (see PqSpec / SimBench). `residual = false`
    * keeps the raw-vector codebooks (the variant whose exhaustive-probe
    * scores are provably identical to full-scan [[topK]]).
    */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                queries: Seq[(Long, Array[Double])], k: Int,
                numCentroids: Int, nprobe: Int = 4,
                m: Int = 16, kCodes: Int = 256, sampleN: Int = 10000,
                roundTo: Int = 6, residual: Boolean = true): DataFrame = {
    Similarity.requireQueryCap("pq ivfPqTopK", queries.length)
    val (assignments, centroids) = Ivf.build(corpus, idCol, vecCol, numCentroids)
    // the (bounded) collected centroid table — the same driver-side
    // dimension Ivf.build already collects each Lloyd iteration
    val cents = centroids.collect().map { r =>
      (r.getLong(0), Ivf.vecToDouble(r.getSeq[Any](1)))
    }.sortBy(_._1)
    val ids = cents.map(_._1)
    val cnorm = cents.map { case (_, v) => Ivf.normalize(v) }
    val cb =
      if (residual) trainResidual(assignments, vecCol, "cluster_id", ids, cnorm,
        m, kCodes, sampleN)
      else train(corpus, vecCol, m, kCodes, sampleN)
    val encodeCol =
      if (residual) PqExpr.encodeResidual(col(vecCol), col("cluster_id"),
        ids, cnorm, cb.subDim, cb.k, cb.cents)
      else PqExpr.encode(col(vecCol), cb.subDim, cb.k, cb.cents)
    val encoded = assignments.select(col("cluster_id"), col(idCol).as("id"),
      encodeCol.as("codes"))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    // nprobe nearest centroids per query; each probe pair also carries
    // q̂·ĉ — the exact centroid term of the residual decomposition
    // q̂·x̂ ≈ q̂·ĉ + q̂·PQ(x̂−ĉ) — so scoring adds a broadcast-joined
    // constant, never a per-row vector op
    val probePairs = queries.zipWithIndex.flatMap { case ((_, qv), qi) =>
      val qn = Ivf.normalize(qv)
      ids.indices.map { ci => (dot(qn, cnorm(ci)), ids(ci), ci) }
        .sortBy { case (sim, cid, _) => (-sim, cid) }
        .take(nprobe).map { case (sim, cid, _) => (cid, qi, sim) }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val probes = broadcast(probePairs.toDF("cluster_id", "qidx", "qdotc"))
    val luts = queries.map(q => lut(cb, q._2)).toArray
    val adc = PqExpr.adcScoreAt(col("codes"), col("qidx"), cb.k, luts)
    val score = if (residual) col("qdotc") + adc else adc
    val scored = encoded.join(probes, Seq("cluster_id"))
      .select(Similarity.queryIdAt(queries, col("qidx")).as("query_id"),
        col("id").as("neighbor_id"),
        round(score, roundTo).as("adc_score"))
    Similarity.rankPerQuery(scored, col("adc_score").desc, k)
  }

  /** Approximate top-k per query over PQ codes: ONE scan of the encoded
    * corpus computes all queries' ADC scores (array column),
    * [[Similarity.fanOut]] turns them into (query, score) rows, and
    * [[Similarity.rankPerQuery]] keeps k per query on the rounded score —
    * WindowGroupLimit prunes to k per task before the shuffle.
    * `queries` is a bounded driver-side list ([[Similarity.MaxQueries]]);
    * self-matches are kept (PQ has no exact-id notion).
    */
  def topK(encoded: DataFrame, cb: Codebooks,
           queries: Seq[(Long, Array[Double])], k: Int,
           roundTo: Int = 6): DataFrame = {
    Similarity.requireQueryCap("pq topK", queries.length)
    val luts = queries.map(q => lut(cb, q._2)).toArray
    val scored = Similarity.fanOut(encoded, PqExpr.adcScores(col("codes"), cb.k, luts),
      queries, "adc_score", round(_, roundTo))
    Similarity.rankPerQuery(scored, col("adc_score").desc, k)
  }
}
