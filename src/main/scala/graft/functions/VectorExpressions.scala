package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native vector kernels: cosine / dot / L2 over `array<double>` (float
  * arrays are read natively; the widening is exact). The higher-order
  * `aggregate`+`zip_with` compositions in Similarity are interpreted
  * (CodegenFallback) and re-walk the lambda tree per element; these run
  * one fused JIT loop per row and participate in codegen. Accumulation
  * order matches the left-fold of the HOF versions, so results are
  * bit-identical.
  */
object VectorKernels {
  /** Binary kernels validate equal lengths up front: these are registered
    * as public SQL functions (cosine_sim, dot_product), and without the
    * check a mismatched pair would read past the end of the shorter
    * UnsafeArrayData — silent garbage, not an error. ANSI mode (Spark 4
    * default) surfaces the throw as a query failure with this message.
    */
  private def requireSameLength(n: Int, m: Int, fn: String): Unit =
    if (n != m) throw new IllegalArgumentException(
      s"$fn requires equal-length arrays, got lengths $n and $m")

  /** aF/bF: the corresponding side is array<float> (read natively — no
    * per-row cast allocation; float→double widening is exact, so results
    * equal the cast-first form bit-for-bit). Flags are codegen-time
    * constants, so the JIT sees straight-line loops.
    *
    * Zero-norm inputs return 0.0 (no direction ⇒ no similarity) instead
    * of the HOF composition's NaN — NaN compares false to everything,
    * which silently drops rows from ≥-threshold filters; an explicit 0.0
    * is the same filter outcome but well-defined and sortable.
    */
  def cosine(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = a.numElements()
    requireSameLength(n, b.numElements(), "cosine_sim")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cached hyperplane components: comps(p)(i) =
    * xxhash64(i, xxhash64(p, 42)) / Long.MaxValue — exactly the hash
    * chain the composed HOF form evaluates inline, computed once per
    * (plane, JVM) instead of once per (row, plane, dim). Benign race:
    * concurrent writers store identical arrays.
    */
  private val planeCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()
  private def planeComps(p: Int, dims: Int): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val cached = planeCache.get(p)
    if (cached != null && cached.length >= dims) cached
    else {
      val pseed = XXH64.hashInt(p, 42L)
      val a = Array.tabulate(math.max(dims, 64))(i =>
        XXH64.hashInt(i, pseed).toDouble / Long.MaxValue.toDouble)
      planeCache.put(p, a)
      a
    }
  }

  /** h-bit sign-LSH signature; bit p = sign(v · plane_p) with plane
    * components derived from xxhash64(p, i) — value-identical to the
    * composed HOF form in Similarity (same hash chain, same left-fold
    * accumulation order).
    */
  def signLsh(v: ArrayData, isF: Boolean, planes: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val comps = planeComps(p, n)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
        proj += x * comps(i)
        i += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Banded sign-LSH keys for OR-amplified near-dup candidate generation:
    * `bands` independent signatures of `planesPerBand` planes each
    * (global plane index b·planesPerBand+p keeps the bands' hyperplane
    * sets disjoint). Returned key_b = xxhash64(sig_b, b) — the band index
    * is folded into the key so a single-long equi-join suffices (same
    * shuffle discipline as DedupKernels.bandKeys).
    */
  def signLshBands(v: ArrayData, isF: Boolean, planesPerBand: Int, bands: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = v.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < planesPerBand) {
        val comps = planeComps(b * planesPerBand + p, n)
        var proj = 0.0
        var i = 0
        while (i < n) {
          val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
          proj += x * comps(i)
          i += 1
        }
        if (proj >= 0) sig |= (1L << p)
        p += 1
      }
      out(b) = XXH64.hashLong(sig, b.toLong)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Pooled-projection banded sign-LSH: evaluate `pool` hyperplane
    * projections ONCE per row and assemble every band signature from
    * the pooled sign bits. The scaled band geometries that hold
    * candidate mass linear grow bands ∝ n ([[graft.operators.Dedup
    * .scaledBandGeometry]]) — with per-band-private planes the
    * signature cost bands·planes·d would itself grow super-linearly in
    * the corpus (the round-9 sf1 re-measurement: 23×4 plane dots per
    * row at sf0.1 vs 256×11 at sf1 — a ~30× per-row growth that kept
    * the LSH queries 14–30× on 10× rows even with linear candidate
    * mass). Pooling caps the dot-product work at pool·d per row for
    * ANY geometry; each band picks `planesPerBand` DISTINCT pool bits
    * via a per-band (start, odd-stride) walk (pool is a power of two,
    * so an odd stride is a bijection — no duplicate bit inside a
    * band). Bands sharing a pool are mildly correlated — the standard
    * reusable-projection trade; OR-amplification only needs band
    * misses roughly independent, and a rare (start, stride) collision
    * merely duplicates one band's candidates.
    */
  def signLshBandsPooled(v: ArrayData, isF: Boolean, planesPerBand: Int,
                         bands: Int, pool: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = v.numElements()
    val bits = new Array[Long]((pool + 63) >> 6)
    var q = 0
    while (q < pool) {
      val comps = planeComps(q, n)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
        proj += x * comps(i)
        i += 1
      }
      if (proj >= 0) bits(q >> 6) |= (1L << (q & 63))
      q += 1
    }
    val mask = pool - 1
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val start = (XXH64.hashInt(b, 7L) & 0x7fffffffL).toInt & mask
      val stride = (((XXH64.hashInt(b, 13L) & 0x7fffffffL).toInt) & mask) | 1
      var sig = 0L
      var s = 0
      while (s < planesPerBand) {
        val idx = (start + s * stride) & mask
        if ((bits(idx >> 6) & (1L << (idx & 63))) != 0) sig |= (1L << s)
        s += 1
      }
      out(b) = XXH64.hashLong(sig, b.toLong)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Argmax-cosine centroid assignment against a broadcast-by-literal
    * centroid table (`cents` are pre-NORMALIZED, so argmax cosine ≡
    * argmax dot — the row's own norm is a constant factor). Ties break to
    * the lowest centroid index (deterministic). Returns ids(argmax).
    */
  def nearestCentroid(v: ArrayData, isF: Boolean,
                      ids: Array[Long], cents: Array[Array[Double]]): Long = {
    val n = v.numElements()
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      requireSameLength(n, cv.length, "nearest_centroid")
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
        d += x * cv(i)
        i += 1
      }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    ids(best)
  }

  /** Row-major upper-triangle self-products xᵢ·xⱼ (i ≤ j) of one
    * vector, flattened (idx runs i outer, j inner from i — the
    * [[graft.operators.Pca]] flat covariance index). Elements widen
    * float→double BEFORE multiplying (exact, engine-portable). One
    * static call per row replacing an interpreted transform/slice HOF
    * pyramid — the docs/THROUGHPUT.md "HOFs don't codegen" rule.
    */
  def upperTriProducts(v: ArrayData, isF: Boolean): ArrayData = {
    val d = v.numElements()
    val out = new Array[Double](d * (d + 1) / 2)
    var idx = 0
    var i = 0
    while (i < d) {
      val xi = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
      var j = i
      while (j < d) {
        val xj = if (isF) v.getFloat(j).toDouble else v.getDouble(j)
        out(idx) = xi * xj
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def dot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = a.numElements()
    requireSameLength(n, b.numElements(), "dot_product")
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }
}

object VectorExpr {
  private val Longs = ArrayType(LongType, containsNull = false)

  private def vec(name: String, method: String, dataType: DataType,
                  args: Seq[Column], constants: Any*): Column =
    KernelCall.column(name, VectorKernels, method, dataType,
      args.map(_ -> KernelCall.FloatVec), constants: _*)

  def cosineSim(a: Column, b: Column): Column = vec("cosine_sim", "cosine", DoubleType, Seq(a, b))
  def dotProduct(a: Column, b: Column): Column = vec("dot_product", "dot", DoubleType, Seq(a, b))
  def signLsh(v: Column, numPlanes: Int): Column =
    vec("sign_lsh", "signLsh", LongType, Seq(v), numPlanes)
  def signLshBands(v: Column, planesPerBand: Int, bands: Int): Column =
    vec("sign_lsh_bands", "signLshBands", Longs, Seq(v), planesPerBand, bands)

  /** Map-only Lloyd assignment: the (bounded) centroid table rides into
    * the generated code as reference objects — no crossJoin, no shuffle.
    * `cents` must be pre-normalized (see VectorKernels.nearestCentroid).
    */
  def nearestCentroid(v: Column, ids: Array[Long], cents: Array[Array[Double]]): Column =
    vec("nearest_centroid", "nearestCentroid", LongType, Seq(v), ids, cents)
  def upperTriProducts(v: Column): Column =
    vec("upper_tri_products", "upperTriProducts", ArrayType(DoubleType, containsNull = false), Seq(v))
  def signLshBandsPooled(v: Column, planesPerBand: Int, bands: Int,
                         pool: Int): Column = {
    require(pool >= 2 && (pool & (pool - 1)) == 0,
      s"sign_lsh_bands_pooled: pool $pool must be a power of two")
    require(planesPerBand >= 1 && planesPerBand <= 64 && planesPerBand <= pool,
      s"sign_lsh_bands_pooled: planesPerBand $planesPerBand out of range")
    vec("sign_lsh_bands_pooled", "signLshBandsPooled", Longs, Seq(v), planesPerBand, bands, pool)
  }
}
