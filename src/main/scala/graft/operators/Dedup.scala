package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DedupExpr, TextAnalytics}

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design: every variant is expressed as hash-partitioned
  * aggregations / joins on *derived compact keys* (64-bit hashes,
  * signatures, band buckets), never on the raw document text — at 100 TB
  * the shuffle carries a few dozen bytes per row instead of the document.
  * All per-row computation is Catalyst expressions (codegen'd, no UDFs).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content hash: keep the smallest id per distinct key.
    * GroupBy on a 64-bit hash of the content, not the content itself —
    * map-side partial aggregation collapses duplicates before the shuffle.
    */
  def exactByKey(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(xxhash64(keyCol).as("content_hash"))
      .agg(min(idCol).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** dropDuplicates over explicit columns (Spark-native exact dedup). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = df.dropDuplicates(cols)

  // -------------------------------------------------------------- minhash

  /** Word k-shingles of a document (distinct, order-free).
    *
    * PERFORMANCE: `text` should be a plain attribute (a materialized
    * column), not a derived expression — higher-order functions are
    * interpreted (CodegenFallback) and re-evaluate their argument
    * subtrees per lambda call, so an inlined token pipeline here turns
    * O(S) into O(S·T) string work. The staged pipelines below project
    * each intermediate array into its own column for exactly this reason.
    */
  def shingles(text: Column, k: Int): Column =
    shinglesFromTokens(TextAnalytics.tokens(text), k)

  /** k-shingles from an already-materialized token array column. */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
          i => array_join(slice(toks, i + 1, lit(k)), " ")),
        s => length(s) > 0))

  /** MinHash signature: numHashes seeded min-hashes over the shingle set.
    * hash_i(s) = xxhash64(i, s); the signature is an array<long> column —
    * compact (8·numHashes bytes) and deterministic across the cluster.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleCol, s => xxhash64(i, s))))

  /** LSH band keys: split the signature into `bands` bands of
    * `rowsPerBand` values and hash each band. Two docs collide in a band
    * iff that band of the signature matches exactly.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(concat_ws(",",
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).cast("string")).as("bkey")))

  /** Estimated Jaccard from two signatures: fraction of equal positions
    * (native kernel; HOF form kept as documentation below).
    */
  def estJaccard(sigA: Column, sigB: Column): Column =
    DedupExpr.sigAgreement(sigA, sigB)

  /** The composed HOF form of [[estJaccard]]. */
  def estJaccardComposed(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA)

  /** MinHash+LSH near-duplicate pairs.
    *
    * Plan shape (the 100 TB path): per-doc signature (map-only) → explode
    * band keys (fan-out ×bands, still narrow) → shuffle on (band, bkey) —
    * the only shuffle, keyed by a 64-bit bucket — → within-bucket
    * self-join (bucket sizes are skew-bounded because identical bands
    * imply near-identical docs) → distinct pairs → estimate Jaccard from
    * the signatures carried on the pair. Returns (id_a, id_b, est_jaccard)
    * with id_a < id_b, filtered to `threshold`.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5, shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0,
      s"minhashPairs: numHashes=$numHashes must be divisible by " +
        s"bands=$bands — a remainder would silently drop trailing " +
        "signature hashes from banding (lsh_band_keys rejects ragged " +
        "widths)")
    val rowsPerBand = numHashes / bands
    // Signature + band keys via native kernel expressions
    // (graft.functions.DedupKernels): one codegen'd call per row instead
    // of 32·S interpreted lambda evaluations; the band index is folded
    // into the key so the self-join shuffles a single long.
    //
    // Shuffle discipline: signatures are materialized ONCE (otherwise
    // both join branches recompute the 32·S hashing) and the band
    // self-join carries only (bkey, id) — 16 B/row instead of
    // 16+8·numHashes; signatures rejoin the candidate-pair set, which is
    // orders of magnitude smaller than the banded row set.
    val sigs = Lineage.cut(df.select(col(idCol).as("id"),
        DedupExpr.minhashSig(TextAnalytics.tokens(col(textCol)), shingleK, numHashes).as("sig")),
      "Dedup.minhashPairs.sigs")
    val bandRows = sigs.select(col("id"),
      explode(DedupExpr.bandKeys(col("sig"), bands, rowsPerBand)).as("bkey"))
    val cand = bandRows.select(col("bkey"), col("id").as("id_a"))
      .join(bandRows.select(col("bkey"), col("id").as("id_b")), Seq("bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over tokens: per-bit majority vote of token hashes.
    * Single `aggregate` pass: the accumulator is a 64-long array of 1-bit
    * counts, updated with a `zip_with` against the bit-decomposition of
    * each token hash (shift amounts are Scala constants, so everything
    * stays in codegen'd built-ins). Bit i of the result is set iff more
    * than half the token hashes have bit i set. No shuffle, no UDF.
    *
    * This composed form is the EXECUTABLE SPECIFICATION of the native
    * kernel — DedupSpec asserts it value-identical to
    * [[graft.functions.DedupExpr.simhash]], which IS the tight-loop
    * `doGenCode` Expression. Production paths use the kernel (via
    * [[simhashed]]): composing here re-evaluates the unmaterialized
    * `ones` subtree per output bit (the [[simhashCombine]] caveat) and
    * tokenizes twice, which is fine for a differential test and wrong
    * for a hot path.
    */
  def simhash64(text: Column): Column =
    simhashCombine(simhashOnes(transform(TextAnalytics.tokens(text), t => xxhash64(t))),
      size(TextAnalytics.tokens(text)).cast("long"))

  /** Per-bit 1-counts (length-64 long array) over a token-hash array. */
  def simhashOnes(hashes: Column): Column =
    aggregate(hashes, array_repeat(lit(0L), 64), (acc, h) =>
      zip_with(acc,
        array((0 until 64).map(i => shiftright(h, i).bitwiseAND(1L)): _*),
        (a, b) => a + b))

  /** Majority-vote bit combine: bit i set iff ones(i)·2 > n. `ones` MUST
    * be a materialized attribute — it is referenced 64 times.
    */
  def simhashCombine(ones: Column, n: Column): Column =
    (0 until 64).map { i =>
      when(element_at(ones, i + 1) * 2L > n, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** id + simhash column via the native kernel (value-identical to the
    * composed [[simhash64]] pipeline, one codegen'd call per row).
    */
  def simhashed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      DedupExpr.simhash(TextAnalytics.tokens(col(textCol))).as("sh"))

  /** Hamming distance between two 64-bit simhashes (bit_count of XOR). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: bucket by the chunks of the simhash (any
    * pair within Hamming distance k shares at least one exact chunk out
    * of k+1 — pigeonhole), then verify with full Hamming distance.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashed(df, idCol, textCol), "id", "sh", maxHamming)

  /** Chunk count `m` for [[hammingPairs]]' banded join, scaled to the
    * corpus — the Hamming-space analog of [[scaledBandGeometry]] (the
    * r9 scale curve's one remaining over-bar flag was exactly this:
    * the fixed m = k+1 single-chunk pigeonhole keys have candidate
    * mass (k+1)·n²/2^(64/(k+1)) — QUADRATIC in n with a small constant
    * that stops being cheap at 100× the bench corpus).
    *
    * The generalization is Manku / Jain / Das Sarma's chunk-combination
    * scheme (WWW'07, "Detecting near-duplicates for web crawling"):
    * split the 64-bit key into `m ≥ k+1` chunks and key on EVERY
    * combination of m−k of them. Completeness stays exact pigeonhole
    * for any m: ≤ k differing bits dirty ≤ k chunks, so ≥ m−k chunks
    * agree, so at least one (m−k)-combination key matches exactly —
    * while the key WIDTH 64·(m−k)/m grows toward 64 bits as m grows
    * (i.e. with log n), collapsing the per-key collision mass. The
    * cost is C(m, k) keys per row — key count trades linearly against
    * quadratic candidate mass.
    *
    * Solve: identity m = k+1 at or below `nRef` (every pinned
    * candidate set at the driver SFs is byte-identical to the unscaled
    * plan), else the smallest m with expected candidate mass/row
    * C(m,k)·n/2^(64·(m−k)/m) at or under the base geometry's mass/row
    * at nRef — the same "constant per-row cost at any corpus size"
    * target [[scaledBandGeometry]] hits for vector LSH. m is capped at
    * 16 (4-bit chunks; past ~10⁹ rows the combination count, not the
    * collision mass, is the binding cost — shard the corpus first).
    */
  private[graft] val HammingNRef = 4096L
  private[graft] def hammingChunkCount(n: Long, maxHamming: Int,
                                       nRef: Long = HammingNRef): Int = {
    val k = maxHamming
    if (n <= nRef) k + 1
    else {
      def choose(m: Int): Double =
        (1 to k).foldLeft(1.0)((acc, i) => acc * (m - k + i) / i)
      def massPerRow(m: Int, rows: Long): Double =
        choose(m) * rows.toDouble / math.pow(2.0, 64.0 * (m - k) / m)
      val target = massPerRow(k + 1, nRef)
      var m = k + 1
      while (m < 16 && massPerRow(m, n) > target) m += 1
      m
    }
  }

  /** The (m−k)-combination key array of a 64-bit hash column — shared
    * by [[hammingPairs]]' candidate join and the ScaleDiag candidate-
    * mass probes (one key construction, so the diagnostic measures the
    * OPERATOR's geometry, not a re-derivation that could drift).
    * Lexicographic combinations: with m = k+1 these are the singletons
    * (0),(1),…,(k) in order, so key ci = xxhash64(chunk_i, lit(ci)) —
    * byte-identical to the unscaled plan's band keys.
    */
  private[graft] def hammingKeyArray(sh: Column, m: Int,
                                     maxHamming: Int): Column = {
    def chunk(i: Int): Column = {
      val lo = i * 64 / m
      val width = (i + 1) * 64 / m - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(sh, lo).bitwiseAND(mask)
    }
    val keys = (0 until m).combinations(m - maxHamming).toSeq.zipWithIndex
      .map { case (cs, ci) => xxhash64((cs.map(chunk) :+ lit(ci)): _*) }
    array(keys: _*)
  }

  /** Generic banded-Hamming near-dup join over ANY (id, 64-bit hash)
    * table — simhash text keys and dHash image keys share this plan.
    * The hash splits into `m` contiguous bit chunks and candidates
    * equi-join on combination keys of m−k of them ([[hammingChunkCount]]
    * — pigeonhole-complete at ANY m, so candidate recall is 1.0, not
    * probabilistic; m = k+1 single-chunk keys at test scale, growing
    * key width at corpus scale to hold candidate mass linear in n).
    * Keys are 64-bit xxhash64 folds carrying the combination index —
    * one shuffle, never the payload; true Hamming verifies once per
    * distinct pair.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int, nRef: Long = HammingNRef): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 15,
      s"maxHamming $maxHamming outside [1, 15]: 0 is exact grouping " +
        "(use exactByKey); >15 makes 64-bit bands too short to prune")
    // cut once — both join branches would recompute the hashes, and the
    // chunk geometry needs the corpus size (the geometry count below is
    // the action that computes the cut's blocks — a corpus property,
    // same as the LSH paths)
    val h = Lineage.cut(hashes.select(col(idCol).as("id"), col(hashCol).as("sh")),
      "Dedup.hammingPairs.h")
    val m = hammingChunkCount(h.count(), maxHamming, nRef)
    val chunks = h.select(col("id"),
      explode(hammingKeyArray(col("sh"), m, maxHamming)).as("ck"))
    val cand = chunks.select(col("ck"), col("id").as("id_a"))
      .join(chunks.select(col("ck"), col("id").as("id_b")), Seq("ck"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(h.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(h.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------ grouped minhash sketch

  /** Typed Aggregator merging per-document MinHash signatures into the
    * signature of the GROUP's union of shingles (elementwise min — the
    * defining property of MinHash: sig(A ∪ B) = min(sig(A), sig(B))).
    * Lets a corpus be sketched per source/domain/shard in one pass and
    * group-level similarity estimated from fixed-size sketches, never
    * re-touching the documents. Classic commutative/associative shape —
    * safe for partial aggregation.
    */
  class MinHashUnionAgg extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    // mixed-length signatures (two pipelines with different numHashes
    // feeding one group) must fail loudly: depending on arrival order the
    // unchecked loop would either throw a bare IndexOutOfBounds or
    // silently ignore the longer signature's tail — a wrong sketch that
    // varies with partitioning (sigAgreement names the same condition)
    private def checkLen(have: Int, got: Int): Unit =
      require(got == have,
        s"MinHashUnionAgg: signature length $got != $have — every " +
          "signature in a group must come from the same numHashes")
    override def reduce(b: Array[Long], sig: Seq[Long]): Array[Long] =
      if (b.isEmpty) sig.toArray
      else {
        checkLen(b.length, sig.length)
        var i = 0; while (i < b.length) { if (sig(i) < b(i)) b(i) = sig(i); i += 1 }; b
      }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        checkLen(a.length, b.length)
        var i = 0; while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }; a
      }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column-API group sketch: `df.groupBy(g).agg(minhashUnion(sigCol))`. */
  def minhashUnion(sig: Column): Column =
    udaf(new MinHashUnionAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()).apply(sig)

  // ------------------------------------------------- pair → cluster → keep

  /** Connected components over near-duplicate pairs: keeper = min id per
    * component. This turns any pair-producing dedup variant into
    * keep/drop decisions.
    *
    * Scale notes: the distributed path is alternating large-star /
    * small-star rounds ([[clustersStarWithRounds]]) — O(log n) rounds on
    * any graph shape, including the chain-shaped components where plain
    * min-label propagation needs O(diameter) rounds. Every round's edge
    * set is a [[Lineage.cut]], which TRUNCATES LINEAGE — with plain
    * cache() the analyzed plan doubles every iteration and driver-side
    * optimization time explodes (measured: 219 s → ~8 s at sf0.1).
    * `maxIters` bounds the loop defensively.
    *
    * `reliable = true` makes every cut here a reliable `checkpoint()`
    * (survives executor loss — a local checkpoint's cached partitions
    * die with their executor, which on a multi-node cluster kills a
    * long propagation); [[Lineage.cut]] falls back to a process-local
    * checkpoint dir if none is set (on a cluster point the context's
    * checkpoint dir at shared storage first).
    *
    * Id columns of any orderable type are supported. The driver
    * union-find fast path applies only to integral ids (and returns them
    * as BIGINT); non-integral ids (e.g. string doc ids) always take the
    * distributed path regardless of edge count.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 20, driverEdgeLimit: Long = 2000000L,
               reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // lineage cut so the (possibly expensive) pair computation runs ONCE:
    // the next action (the routing count below, or the star loop's
    // initial signature via the canonical edge set) computes the blocks
    val p = Lineage.cut(pairs.select(col(idA).as("src"), col(idB).as("dst")),
      "Dedup.clusters.pairs", reliable)
    val integralIds = p.schema.fields.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    // Adaptive: a near-dup edge list is usually a bounded dimension (far
    // smaller than the corpus). Below the limit, union-find on the
    // driver beats distributed rounds — each round costs fixed job
    // overhead regardless of data size. Above it, fall through to
    // distributed large-star/small-star rounds. With the driver path
    // disabled (limit ≤ 0) the routing count is dead weight — skip the
    // job and go straight to the distributed rounds (r15; previously an
    // EMPTY edge set with limit 0 took the driver path via 0 ≤ 0 — both
    // paths return the same empty (id, cluster_id) ROWS there, though
    // the distributed path keeps the input id type where the driver
    // path widens to BIGINT — observable only on that empty edge case).
    if (driverEdgeLimit > 0) {
      val edgeCount = p.count()
      if (integralIds && edgeCount <= driverEdgeLimit)
        return clustersDriver(p, edgeCount, driverEdgeLimit)
    }
    clustersStarWithRounds(p, maxIters, reliable)._1
  }

  /** Distributed connected components by alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014) — O(log n) rounds on ANY graph shape,
    * where min-label propagation needs O(diameter) rounds (a chain of n
    * near-dup docs would take n rounds; star takes ~log n — asserted in
    * DedupSpec's chain test).
    *
    * Each round is two star operations; each star operation is ONE
    * exchange keyed by a single vertex id + one streaming window (no
    * join, no aggregate) — exchanges carry id pairs only, and every
    * edge stays oriented (lo < hi) so the working set never doubles by
    * symmetrization between rounds. Rounds run on edge BAGS (r16 — no
    * per-round distinct; the bag is non-increasing and collapses to the
    * canonical set at the fixpoint, see the in-body proofs), so a round
    * is exactly TWO exchanges. Convergence = the edge bag's
    * (count, hash-sum) signature repeating between consecutive rounds;
    * at the fixpoint every edge is (componentMin, v). Rounds execute in
    * two-round strides with ONE driver action per stride (a union of
    * the per-round signature aggregates). Every round's edges are a
    * [[Lineage.cut]] (reliable when `reliable`), and once a stride's
    * action has computed its cuts, the previous stride's are released,
    * so the blocks held stay constant however many rounds run.
    *
    * Returns (labels, roundsRun): labels covers every endpoint of the
    * input (self-loop-only nodes label themselves). `roundsRun` counts
    * rounds executed, checked per two-round stride, so when convergence
    * lands on a stride's first round it is one above the round that
    * converged. It is diagnostic only (the labels are the same either
    * way); a per-round check would cost one driver action per round,
    * which is what the strides remove.
    */
  private[graft] def clustersStarWithRounds(p: DataFrame, maxIters: Int,
                                            reliable: Boolean): (DataFrame, Int) = {
    // every round's cut is computed by the caller's next action (the
    // per-stride signature aggregate), so a round costs ZERO standalone
    // actions (at test scale each action is a fixed job-latency tax)
    def cut(df: DataFrame): DataFrame =
      Lineage.cut(df, "Dedup.clustersStarWithRounds.edges", reliable)
    // NOT materialized: consumed exactly once by the final label join,
    // and its input p is already a checkpoint — an eager distinct here
    // was one more job + exchange ahead of the loop for no reuse.
    val nodes = p.select(col("src").as("id"))
      .unionAll(p.select(col("dst").as("id"))).distinct()
    // canonical starting set: distinct (lo, hi), lo < hi — LAZY: the
    // initial signature below is the action that computes it (and p).
    var edges = cut(p.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct())

    // Star shape (r16): each star op is ONE exchange keyed by its
    // grouping vertex + ONE streaming window — the group minimum is
    // `first(...)` over the (key, neighbor)-sorted running frame, which
    // WindowExec evaluates without buffering the group. The r15 shape
    // (repartition + aggregate + equi-join re-reading the exchange)
    // computed the same minimum but paid a join that AQE re-planned to
    // a broadcast at runtime — one broadcast-build job per star per
    // round of pure latency at test scale, and a hash build per group
    // at any scale. The window form reads the exchange once, never
    // joins, and shuffles the same id-pair bytes.
    //
    // large-star: per node u over its FULL neighborhood, connect every
    // strictly-larger neighbor to m = min(N(u) ∪ {u}). No trailing
    // distinct: each INPUT row (lo,hi) yields exactly one output row
    // (only the u=lo orientation passes v > u), so the bag never grows
    // through a large-star, and the windowed min is duplicate-
    // insensitive — the per-round edge SET trajectory (and so the
    // fixpoint) is exactly the canonical algorithm's.
    def largeStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("u")).orderBy(col("v"))
      e.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(e.select(col("hi").as("u"), col("lo").as("v")))
        .repartition(col("u"))
        .select(col("u"), col("v"), first(col("v")).over(w).as("_mn"))
        .where(col("v") > col("u"))
        .select(least(col("u"), col("_mn")).as("lo"), col("v").as("hi"))
    }
    // small-star: per node u over its SMALLER neighbors L(u), connect
    // them (and u) to m = min(L(u)). NO trailing distinct (r16): the
    // rounds run on edge BAGS, which never grow — small-star emits one
    // row per input row (lo≠m rows rewire 1:1; the ≥1 lo=m duplicates
    // of each group collapse into the single (m, hi) row the group's
    // first sorted row emits), so |bag| is non-increasing from the
    // distinct starting set, and the SET under the bag follows the
    // canonical with-distinct trajectory (both stars' output sets
    // depend only on their input set, min is duplicate-insensitive).
    // At the set fixpoint F (every edge is (componentMin, v), one per
    // v) a single small-star collapses the bag to exactly F — the
    // convergence check below exploits that. Dropping the distinct
    // removes one full (lo,hi)-keyed exchange + aggregate per round —
    // a third of each round's shuffles at any scale (plan evidence in
    // OPTIMIZATION_r16.md). Ties in the row_number pick are harmless: tied rows
    // are identical (lo, hi) duplicates emitting the same (m, hi).
    def smallStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("hi")).orderBy(col("lo"))
      e.repartition(col("hi"))
        .select(col("lo"), col("hi"),
          first(col("lo")).over(w).as("_m"),
          row_number().over(w).as("_rn"))
        .select(explode(filter(array(
            struct((col("lo") =!= col("_m")).as("_keep"),
              col("_m").as("lo"), col("lo").as("hi")),
            struct((col("_rn") === 1).as("_keep"),
              col("_m").as("lo"), col("hi").as("hi"))),
          s => s.getField("_keep"))).as("_e"))
        .select(col("_e.lo").as("lo"), col("_e.hi").as("hi"))
    }
    // One (count, multiset-hash) signature PER checkpoint of a stride,
    // evaluated in a SINGLE action (a union of the per-checkpoint
    // aggregates): the bag is unchanged between consecutive rounds iff
    // the canonical set reached its fixpoint one round earlier (the
    // small-star collapse argument above), so comparing CONSECUTIVE
    // signatures keeps the original convergence criterion while paying
    // one driver action per TWO rounds. The first branch's scan also
    // computes the shared upstream checkpoint blocks (BlockManager's
    // per-block write lock serializes concurrent same-partition
    // computes, so each round's edges compute exactly once).
    // Summands bounded < 2^40 so the ANSI-mode sum cannot overflow
    // below ~8M billion edges.
    def sigAgg(e: DataFrame, tag: Int): DataFrame =
      e.agg(count(lit(1)).as("_c"),
          sum(pmod(xxhash64(col("lo"), col("hi")), lit(1L << 40))).as("_s"))
        .select(lit(tag).as("_i"), col("_c"), col("_s"))
    def signatures(es: Seq[DataFrame]): Seq[(Long, Long)] =
      es.zipWithIndex.map((sigAgg _).tupled).reduce(_.unionAll(_))
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toSeq

    var sig = signatures(Seq(edges)).head // materializes the lazy start
    var rounds = 0
    var converged = sig._1 == 0L // empty edge set: nothing to propagate
    while (!converged && rounds < maxIters) {
      // a stride of (up to) two rounds per driver action: each round's
      // edges are a lazy checkpoint; the stride's signature union is
      // the action that computes all of them
      val step = math.min(2, maxIters - rounds)
      val stride = Iterator.iterate(cut(smallStar(largeStar(edges))))(
        prev => cut(smallStar(largeStar(prev)))).take(step).toSeq
      val sigs = signatures(stride)
      converged = (sig +: sigs).sliding(2).exists(w => w(0) == w(1))
      // the signature action computed every cut of the stride, so only
      // stride.last is still read: the older blocks are dead
      (edges +: stride.init).foreach(Lineage.release)
      edges = stride.last
      sig = sigs.last
      rounds += step
    }
    val labels = nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("label")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Driver-side union-find with path compression over a bounded edge
    * list of integral ids; labels = min id per component (same result as
    * the distributed propagation, ids widened to BIGINT).
    */
  private def clustersDriver(symPairs: DataFrame, edgeCount: Long,
                             driverEdgeLimit: Long): DataFrame = {
    // [[clusters]] routes here only below its driverEdgeLimit knob;
    // re-assert before the collect so a future caller with an unbounded
    // edge list fails loudly instead of OOMing the driver
    require(edgeCount <= driverEdgeLimit,
      s"clustersDriver: $edgeCount edges exceeds driverEdgeLimit=" +
        s"$driverEdgeLimit — raise the knob or use the distributed " +
        "large-star/small-star path (Dedup.clusters with driverEdgeLimit=0)")
    val spark = symPairs.sparkSession
    import spark.implicits._
    // nullable decode + loud require: a NULL id cannot name a cluster
    // member, and the primitive (Long, Long) decoder would otherwise
    // surface it as a cryptic "Null value appeared in non-nullable
    // field" far from the cause
    val esBoxed = symPairs.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(java.lang.Long, java.lang.Long)].collect()
    require(esBoxed.forall(e => e._1 != null && e._2 != null),
      "clustersDriver: NULL id in the pair list — ids must be non-null " +
        "to name cluster members")
    val es = esBoxed.map(e => (e._1.longValue, e._2.longValue))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = scala.collection.mutable.Map.empty[Long, Long]
    parent.keys.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), v)
    }
    parent.keys.toSeq.sorted.map(v => (v, minOfRoot(find(v))))
      .toDF("id", "cluster_id")
  }

  /** Keep/drop decision per document: keeper = min id in its component;
    * documents with no near-dup pair keep themselves.
    */
  def keepers(allIds: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    allIds.select(col(idCol).as("id"))
      .join(clusters(pairs), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("keeper_id"))
      .withColumn("keep", col("id") === col("keeper_id"))

  /** Priority-aware dedup decision: like [[keepers]], but each cluster's
    * keeper is the member MAXIMIZING `priorityCol` (ties → min id) — the
    * production curation policy of keeping the best-quality duplicate
    * rather than the arbitrary lowest-id one. Callers must pass a
    * priority whose values compare identically on any engine (integer
    * units or a value rounded the same way everywhere — the
    * [[graft.operators.Stats.calibration]] discipline), or keeper picks
    * can flip on a last-ulp difference.
    *
    * Cost over [[keepers]]: one extra shuffle keyed by cluster_id for
    * the keeper window — skew-bounded because a cluster is a set of
    * near-duplicates (bounded by dedup semantics, not item popularity).
    */
  def keepersBy(all: DataFrame, idCol: String, priorityCol: Column,
                pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("_pri").desc, col("id").asc)
    all.select(col(idCol).as("id"), priorityCol.as("_pri"))
      .join(clusters(pairs), Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
      .withColumn("keeper_id", first(col("id")).over(w))
      .select(col("id"), col("keeper_id"),
        (col("id") === col("keeper_id")).as("keep"))
  }

  // -------------------------------------------- embedding-cosine near-dup

  /** Banded sign-LSH geometry scaled to the corpus size — the knob the
    * round-8 scale curve proved must move: candidate mass under a FIXED
    * geometry is Σ_bucket |bucket|²·bands ≈ n²·bands/2^planes, i.e.
    * QUADRATIC in n (measured: 8.1M candidate pairs at 2k vectors →
    * 807M at 20k with the (2,16) default — a 47× wall-clock blowup on a
    * 10× corpus). Holding candidate mass/row FLAT needs
    * bands/2^planes ∝ 1/n; this helper solves that directly for
    * g = n/nRef: e = ⌈log₂ g⌉ extra planes, bands = ⌈baseBands·2^e/g⌉
    * ∈ [baseBands, 2·baseBands) — so
    *
    *   mass/row ∝ n·bands·2^(−planes) = nRef·(base factor)·(2^e/g)/2^e
    *            = nRef·(base factor) — CONSTANT, mass LINEAR in n,
    *
    * with no systematic overshoot from ceil granularity (the r8
    * formula's e = ⌈2·log₂ g⌉ + bands·2^(e/2) landed up to 1.8× off
    * target between power-of-two boundaries, and its bands ∝ n made
    * the signature work itself super-linear — see
    * [[embeddingNearDupPairs]]'s pooled kernel). Bands never shrink
    * below base; recall for a pair at cosine c (p = 1−arccos(c)/π) is
    * 1−(1−p^planes)^bands and DECAYS with scale at the low end of
    * useful thresholds (c≈0.3–0.4) — the LSH n^ρ tradeoff, which no
    * linear-mass geometry escapes; production near-dup thresholds
    * (c ≥ 0.9) hold ≥0.99 out past 100× nRef.
    *
    * `nRef` must sit at or below the smallest corpus whose scaling is
    * being measured (default 1024: above the driver-SF corpora (≤500
    * rows), so every pinned hash keeps the identity base geometry, and
    * BELOW the 2000-row sf0.1 bench corpus, so the measured sf0.1→sf1
    * curve starts from scaled geometry on BOTH sides — the r9 default
    * 2048 still put sf0.1 ON the identity plateau, so the first
    * doubling of the measured mass ratio was quadratic, exactly the
    * artifact the scaling was built to remove).
    */
  def scaledBandGeometry(n: Long, basePlanes: Int, baseBands: Int,
                         nRef: Long = 1024L): (Int, Int) = {
    require(basePlanes >= 1 && baseBands >= 1 && nRef >= 1,
      s"bad geometry ($basePlanes, $baseBands, nRef=$nRef)")
    if (n <= nRef) (basePlanes, baseBands)
    else {
      val g = n.toDouble / nRef
      val e = math.ceil(math.log(g) / math.log(2.0)).toInt
      (basePlanes + e,
        math.max(1, math.ceil(baseBands * math.pow(2.0, e) / g).toInt))
    }
  }

  /** Embedding-based near-duplicate pairs, banded sign-LSH (the scale
    * path): candidates = any shared band key among `bands` independent
    * `planesPerBand`-bit signatures (OR-amplification), verified with
    * exact kernel cosine — so the output is always a SUBSET of the exact
    * all-pairs result at the same threshold; only recall is approximate.
    *
    * Plan shape (mirrors [[minhashPairs]]): signature kernel (map-only) →
    * explode band keys → ONE shuffle keyed by a 64-bit band key →
    * within-bucket self-join carrying only (key, id) — never the vector —
    * → distinct candidate pairs → vectors rejoined for the cosine check.
    * No nested-loop join anywhere; the row×row product shrinks to
    * Σ_bucket |bucket|², i.e. ≈ n²·bands/2^planesPerBand for hash-random
    * buckets.
    *
    * Tuning: recall for a pair at cosine c is 1-(1-p^b)^L with
    * p = 1-arccos(c)/π, b = planesPerBand, L = bands. The defaults
    * (b=3, L=16) give ≥0.95 recall down to c≈0.4 — matched to the test
    * corpus; production near-dup at c≥0.9 should raise b to 12–20 (and
    * optionally lower L), which shrinks buckets by orders of magnitude.
    *
    * Signature cost: [[scaledBandGeometry]] grows bands ∝ n to hold
    * candidate mass linear, so per-band-private planes would make the
    * signature dot products (bands·planes·d per row) THEMSELVES grow
    * super-linearly — the round-9 sf1 re-measurement caught exactly
    * that (14–30× wall on 10× rows with linear candidate mass). Any
    * geometry past [[PooledBandCutoff]] total plane slots therefore
    * assembles its bands from a fixed 256-projection pool
    * ([[graft.functions.VectorKernels.signLshBandsPooled]]) — constant
    * dot-product work per row at any corpus size. The cutoff keeps
    * every base (test-scale) geometry on the private-plane kernel, so
    * pinned candidate sets are untouched; the switch is a function of
    * the GEOMETRY, never of the data.
    */
  private[graft] val PooledBandCutoff = 64

  /** The sign-LSH band-key array for one geometry — shared by
    * [[embeddingNearDupPairs]]' candidate join and the ScaleDiag
    * candidate-mass probes, so the diagnostic measures the operator's
    * actual keys (private planes at base geometry, the fixed
    * 256-projection pool past [[PooledBandCutoff]] slots).
    */
  private[graft] def lshBandKeyArray(v: Column, planesPerBand: Int,
                                     bands: Int): Column =
    if (planesPerBand * bands <= PooledBandCutoff)
      graft.functions.VectorExpr.signLshBands(v, planesPerBand, bands)
    else graft.functions.VectorExpr.signLshBandsPooled(v,
      planesPerBand, bands, pool = 256)

  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planesPerBand: Int = 3,
                            bands: Int = 16): DataFrame = {
    // cut once — band fan-out and both candidate rejoin branches would
    // otherwise recompute the source (and its signatures); the dim probe
    // and size count below compute the blocks
    val vecs = Lineage.cut(df.select(col(idCol).as("id"), col(vecCol).as("v")),
      "Dedup.embeddingNearDupPairs.vecs")
    val bandRows = vecs.select(col("id"),
      explode(lshBandKeyArray(col("v"), planesPerBand, bands)).as("bk"))
    // Verify-join strategy from the DIMENSION side's size, not Spark's
    // 10 MB default: when the vector table fits a deliberate broadcast
    // budget, BOTH rejoin sides broadcast and the candidate-pair stream
    // never re-shuffles carrying a vector payload (at 10× sf0.1 the
    // table sat just past autoBroadcastJoinThreshold, and the second
    // join exchanged 71M pairs × one 520-byte vector each — the whole
    // verification regression). Past the budget the joins fall back to
    // shuffles — the only option once the corpus outgrows the driver —
    // where the pair stream pays one narrow exchange per side. Sizing
    // actions are cheap: the dim probe below is the action that
    // computes the LAZY vecs checkpoint's blocks; the count reads them.
    // probe the first NON-NULL vector: size(NULL) is NULL and getInt on
    // it would NPE the whole job because one document lacks an embedding
    // (null vectors themselves flow through to a NULL cos_sim downstream)
    val dim = vecs.select(size(col("v")).as("_d"))
      .where(col("_d").isNotNull)
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    val estBytes = vecs.count() * (24L + 8L * dim)
    val budget = maxBroadcastVectorBytes(df.sparkSession)
    // Idle-capacity spread (r16, guide §2.6): in the broadcast regime
    // the candidate-generation probe and the cosine verification are
    // CPU-dense map work over narrow rows, and AQE's byte-based
    // coalescing packs them into one or two tasks at modest corpus
    // sizes (plan-verified: the whole distinct→rejoin→cosine chain ran
    // in a single AQE-coalesced task at sf0.1 while 31 cores idled).
    // An explicit hash repartition to the cluster's core count before
    // each CPU-dense segment spreads the kernels; the exchanged rows
    // are (band, id) / (id, id) — bytes are trivial next to the dot-
    // product work. Gated to the broadcast regime: past the broadcast
    // budget the corpus is large enough that the natural partitioning
    // already feeds every core, and these exchanges would only add
    // cost. Deterministic hash keys, never round-robin (guide §2.5).
    val spreadN = df.sparkSession.sparkContext.defaultParallelism
    def spread(d: DataFrame, keys: Column*): DataFrame =
      if (estBytes <= budget) d.repartition(spreadN, keys: _*) else d
    // probe side spread by id ALONE: the band join is a broadcast (no
    // distribution requirement), and keying the spread by id keeps all
    // of one id's band rows — and so every duplicate of its candidate
    // pairs across bands — in ONE task, preserving map-side partial
    // dedup ahead of the distinct's exchange (keying by (bk, id) was
    // measured to triple the candidate exchange)
    val cand = spread(bandRows, col("id")).select(col("bk"), col("id").as("id_a"))
      .join(bandRows.select(col("bk"), col("id").as("id_b")), Seq("bk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    def side(n: String, v: String) = {
      val s = vecs.select(col("id").as(n), col("v").as(v))
      if (estBytes <= budget) broadcast(s) else s
    }
    // reversed key order vs the distinct's (id_a, id_b) grouping so the
    // planner cannot elide this exchange as already-satisfied — it must
    // survive to undo AQE's byte-based coalescing of the verify stage
    spread(cand, col("id_b"), col("id_a"))
      .join(side("id_a", "va"), Seq("id_a"))
      .join(side("id_b", "vb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Broadcast budget for [[embeddingNearDupPairs]]'s verify joins: the
    * vector table broadcasts to the candidate verification while its
    * estimated in-memory size stays under this — far past Spark's 10 MB
    * default (a deliberate dimension-table broadcast at 256 MB is
    * routine on executor-sized heaps) and far under driver limits.
    * Library callers on small heaps can lower it per session via
    * `spark.graft.dedup.maxBroadcastVectorBytes` (both verify-join
    * sides broadcast, so the budget is paid twice per executor).
    */
  private[graft] val MaxBroadcastVectorBytesDefault: Long = 256L << 20
  private[graft] def maxBroadcastVectorBytes(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.dedup.maxBroadcastVectorBytes")
      .map(_.toLong).getOrElse(MaxBroadcastVectorBytesDefault)

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): k-means buckets the corpus, exact cosine
    * runs only WITHIN a bucket — the third scale-safe candidate
    * generator beside banded sign-LSH ([[embeddingNearDupPairs]]) and
    * sorted neighborhoods, and the one that catches paraphrase-level
    * duplicates whose vectors sit close without sharing LSH bands.
    *
    * Scale shape: centroids train on the bounded-seed Lloyd loop
    * ([[Ivf.build]] — assignment is one map-only kernel pass), the pair
    * join is an EQUI-join on cluster_id with fan-out bounded by cluster
    * size (numCentroids scales with the corpus to hold the bucket size
    * constant — the SemDeDup recipe), and only surviving pairs carry
    * vectors past the filter. Recall is bounded by clustering (near-dups
    * split across buckets are missed — the same contract as the LSH
    * path, subset-of-exact asserted in SimilaritySpec).
    *
    * `threshold` is the UNROUNDED cosine boundary (pass the half-up
    * boundary, e.g. 0.3999995 for round(·,6) ≥ 0.4, to match an
    * exact-pair anchor bit-for-bit on the kept set).
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           numCentroids: Int, threshold: Double,
                           lloydIters: Int = 2, roundTo: Int = 6): DataFrame = {
    val (assignments, _) = Ivf.build(df, idCol, vecCol, numCentroids, lloydIters)
    val asg = Lineage.cut(assignments // both self-join branches; Lloyd ran once
      .select(col("cluster_id"), col(idCol).as("id"), col(vecCol).as("v")),
      "Dedup.semanticNearDupPairs.asg")
    val a = asg.select(col("cluster_id"), col("id").as("id_a"), col("v").as("va"))
    val b = asg.select(col("cluster_id"), col("id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("cluster_id")).where(col("id_a") < col("id_b"))
      .withColumn("_cos", Similarity.cosine(col("va"), col("vb")))
      .where(col("_cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("_cos"), roundTo).as("cos_sim"))
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Exploded (id, n_sh, h) shingle stream for the pair self-joins.
    *
    * Measured non-lever (kept as a record): pre-pruning df-1 shingles
    * before the self-join — as a dimension join OR a broadcast-Bloom
    * map-side filter — does NOT pay, even on an open-vocabulary corpus
    * where 95%+ of shingle occurrences are singletons (DedupBench,
    * 220k docs: join-prune 0.56×, bloom-prune 0.94× vs no prune).
    * Reason: a singleton hash produces no fan-out in the hash-keyed
    * self-join — it costs one shuffled row per side and emits only its
    * self-match, which `id_a < id_b` drops — so the join is already
    * LINEAR in singletons, and any counting pre-pass adds a shuffle of
    * the same stream it hopes to shrink. Skew from HOT shingles is the
    * real scale risk, and that is what [[prefixFilterPairs]] (PPJoin)
    * and the banded-LSH paths are for.
    */
  private def pairableShingles(shingled: DataFrame): DataFrame =
    shingled.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("h"))

  /** Exact n-gram Jaccard similarity for candidate pairs: explode shingles
    * to (shingle_hash, id), self-join on the hash to count intersections,
    * then |A∩B| / (|A|+|B|−|A∩B|). Shuffles only 64-bit hashes.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8): DataFrame =
    // cut once — both self-join branches would recompute the
    // tokenize+shingle+hash kernel
    ngramJaccardPairsPre(
      Lineage.cut(df.select(col(idCol).as("id"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k).as("sh")),
        "Dedup.ngramJaccardPairs.shingled"),
      threshold)

  /** [[ngramJaccardPairs]] over a PRE-SHINGLED corpus: `shingled` carries
    * (id, sh: array<long>) and the caller owns its materialization — the
    * hook that lets one checkpointed shingle table feed the whole n-gram
    * family (Jaccard, containment, PPJoin, decontamination, cross-source)
    * instead of each query re-running the tokenize+shingle kernel over
    * the full corpus.
    */
  def ngramJaccardPairsPre(shingled: DataFrame, threshold: Double): DataFrame = {
    val sh = pairableShingles(shingled)
    val a = sh.select(col("h"), col("id").as("id_a"), col("n_sh").as("n_a"))
    val b = sh.select(col("h"), col("id").as("id_b"), col("n_sh").as("n_b"))
    a.join(b, Seq("h")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Incremental n-gram Jaccard dedup: pairs (id_a < id_b) with
    * Jaccard ≥ `threshold` where AT LEAST ONE side is in the new batch
    * — the daily-increment pattern: a fresh crawl dedups against the
    * standing corpus (and within itself) without EVER re-pairing
    * corpus × corpus.
    *
    * `shingled` carries the full corpus (standing + new) in the
    * [[ngramJaccardPairsPre]] (id, sh) contract; `isNew` marks the
    * batch. Only the new side explodes into the probe of the shingle
    * equi-join, so candidate cost is O(|new| · df) — independent of the
    * standing corpus's internal pair structure, which is exactly what a
    * persisted shingle index buys at 100 TB. The direction predicate
    * (new < other, OR the other side is standing corpus) emits each
    * shared shingle of each qualifying pair exactly once, so the output
    * is bit-identical to filtering the full self-join's pairs to
    * new-touching ones — the DuckDB oracle states it that way, and
    * DedupSpec asserts it against [[ngramJaccardPairsPre]].
    */
  def incrementalNgramPairs(shingled: DataFrame, isNew: Column,
                            threshold: Double): DataFrame = {
    val ex = shingled.select(col("id"), size(col("sh")).as("n_sh"),
      isNew.as("is_new"), explode(col("sh")).as("h"))
    val n = ex.where(col("is_new"))
      .select(col("h"), col("id").as("nid"), col("n_sh").as("n_n"))
    val m = ex.select(col("h"), col("id").as("mid"), col("n_sh").as("n_m"),
      col("is_new").as("m_new"))
    n.join(m, Seq("h"))
      .where(col("nid") =!= col("mid") &&
        (col("nid") < col("mid") || !col("m_new")))
      .select(least(col("nid"), col("mid")).as("id_a"),
        greatest(col("nid"), col("mid")).as("id_b"),
        when(col("nid") < col("mid"), col("n_n")).otherwise(col("n_m")).as("n_a"),
        when(col("nid") < col("mid"), col("n_m")).otherwise(col("n_n")).as("n_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Exact set-similarity self-join via PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07): same output
    * contract as [[ngramJaccardPairs]], but candidate generation joins
    * only each document's RAREST prefix shingles instead of every
    * shingle. Prefix principle: under any agreed global element order,
    * two sets with Jaccard ≥ t MUST share at least one element among
    * each one's first L = n − ⌈t·n⌉ + 1 elements — so joining prefixes
    * loses nothing (completeness is exact, asserted by hash-matching
    * the brute-force oracle), while ordering by ascending document
    * frequency makes the joined elements the rarest ones: stopword-like
    * shingles shared by half the corpus never generate candidates.
    * The length filter (⌈t·max(n_a,n_b)⌉ ≤ min(n_a,n_b)) prunes
    * size-mismatched pairs before verification.
    *
    * Scale shape: the shingle df is a dimension-keyed aggregate; the
    * per-doc prefix rank window is bounded by document size; the
    * candidate join exchanges only prefix (hash, id, n) triples — at
    * t = 0.8 that is ~20% of the shingle volume [[ngramJaccardPairs]]
    * shuffles, with the high-df hot keys (the skew!) excluded by
    * construction. Verification re-joins full shingle sets for
    * candidate pairs only.
    */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8): DataFrame =
    prefixFilterPairsPre(
      Lineage.cut(df.select(col(idCol).as("id"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k).as("sh")),
        "Dedup.prefixFilterPairs.shingled"),
      threshold)

  /** [[prefixFilterPairs]] over a pre-shingled (id, sh) corpus (same
    * caller-owns-materialization contract as [[ngramJaccardPairsPre]]).
    */
  def prefixFilterPairsPre(shingled: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold")
    val sh = shingled.select(col("id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col("id")).orderBy(col("_df"), col("h"))
    val prefixLen = col("n_sh") - ceil(col("n_sh") * threshold).cast("long") + 1
    val prefix = sh.join(dfreq, "h")
      .withColumn("_r", row_number().over(w))
      .where(col("_r") <= prefixLen)
      .select(col("h"), col("id"), col("n_sh"))
    val cand = prefix.select(col("h"), col("id").as("id_a"), col("n_sh").as("n_a"))
      .join(prefix.select(col("h"), col("id").as("id_b"), col("n_sh").as("n_b")),
        Seq("h"))
      .where(col("id_a") < col("id_b") &&
        ceil(greatest(col("n_a"), col("n_b")) * threshold) <=
          least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b")).distinct()
    val aFull = sh.select(col("id").as("id_a"), col("n_sh").as("n_a"), col("h"))
    val bFull = sh.select(col("id").as("id_b"), col("n_sh").as("n_b"), col("h"))
    cand.join(aFull, Seq("id_a"))
      .join(bFull, Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Directed n-gram containment for candidate pairs: containment(A→B) =
    * |A∩B| / |A| — the asymmetric complement of [[ngramJaccardPairs]]
    * that Jaccard misses: a short document quoted wholesale inside a
    * long one has near-1 containment but low Jaccard (|A∩B|/|A∪B|
    * shrinks with the big doc). The standard quote/subset detector for
    * training-data curation.
    *
    * Same plan as the Jaccard variant: explode shingle hashes, one
    * hash-keyed self-join counting intersections, sizes carried on the
    * row — shuffles 64-bit hashes only. Emits one row per unordered
    * pair (id_a < id_b) with BOTH directions' containments; `threshold`
    * keeps pairs where either direction clears it.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, threshold: Double = 0.8): DataFrame =
    ngramContainmentPairsPre(
      Lineage.cut(df.select(col(idCol).as("id"),
          DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k).as("sh")),
        "Dedup.ngramContainmentPairs.shingled"),
      threshold)

  /** [[ngramContainmentPairs]] over a pre-shingled (id, sh) corpus (same
    * caller-owns-materialization contract as [[ngramJaccardPairsPre]]).
    */
  def ngramContainmentPairsPre(shingled: DataFrame, threshold: Double): DataFrame = {
    val sh = pairableShingles(shingled)
    val a = sh.select(col("h"), col("id").as("id_a"), col("n_sh").as("n_a"))
    val b = sh.select(col("h"), col("id").as("id_b"), col("n_sh").as("n_b"))
    a.join(b, Seq("h")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("n_a")).as("cont_ab"),
        (col("inter").cast("double") / col("n_b")).as("cont_ba"))
      .where(col("cont_ab") >= threshold || col("cont_ba") >= threshold)
  }

  /** Sorted-neighborhood blocking (the classic entity-resolution
    * alternative to LSH banding): sort the corpus by a normalized key,
    * take every pair within `window` positions, and exact-verify those
    * candidates with n-gram Jaccard. Complements [[minhashPairs]] —
    * sorted-neighborhood finds near-dups whose similarity concentrates
    * in the key prefix (titles, URLs, names) at O(n·w) candidates.
    *
    * Scale shape: the global sort position comes from
    * [[Packing.globalOrderIndex]] (two-level rank — no one-partition
    * window), candidates are an EQUI-join on the rank (each row
    * explodes to its `window` successor ranks), and the shingle arrays
    * rejoin candidates BY ID — exchanges carry (rank, id) pairs and
    * 64-bit shingle hashes, never text.
    */
  def sortedNeighborPairs(docs: DataFrame, idCol: String, textCol: String,
                          window: Int = 5, k: Int = 3,
                          threshold: Double = 0.1): DataFrame = {
    val keyed = docs.select(col(idCol).as("id"),
      regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("_sk"))
    val cand = sortedNeighborCandidates(keyed, "id", col("_sk"), window)
    val sh = Lineage.cut(docs.select(col(idCol).as("id"),
        DedupExpr.shingleHashes(TextAnalytics.tokens(col(textCol)), k).as("sh")),
      "Dedup.sortedNeighborPairs.sh")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("_sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("_sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("double").as("_i"),
        size(col("_sa")).as("_na"), size(col("_sb")).as("_nb"))
      .select(col("id_a"), col("id_b"),
        (col("_i") / (col("_na") + col("_nb") - col("_i"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The blocking half of sorted-neighborhood: (id_a, id_b) with
    * id_a < id_b for every pair within `window` positions of each other
    * under the total order (sortKey, id). O(n·window) candidates whose
    * count scales with the corpus, never with any value's frequency —
    * the dictionary-scaling alternative to equality blocking (an
    * equality block on a bounded-cardinality key, e.g. a categorical
    * token, grows O(n²/|dict|) within blocks).
    *
    * Scale shape: global rank from [[Packing.globalOrderIndex]]
    * (two-level — no corpus-wide window), candidates from an EQUI-join
    * of each row against its `window` successor ranks; exchanges carry
    * (rank, id) only.
    */
  def sortedNeighborCandidates(df: DataFrame, idCol: String,
                               sortKey: Column, window: Int): DataFrame = {
    require(window >= 1, s"window $window")
    val keyed = df.select(col(idCol).as("id"), sortKey.as("_sk"))
    val ranked = Lineage.cut(Packing.globalOrderIndex(keyed,
        substring(col("_sk"), 1, 1), Seq(col("_sk"), col("id")))
      .select(col("id"), col("rank")), "Dedup.sortedNeighborCandidates.ranked")
    val probes = ranked.select(col("id").as("id_a"),
      explode(sequence(col("rank") + 1, col("rank") + window)).as("rank"))
    probes
      .join(ranked.select(col("id").as("id_b"), col("rank")), Seq("rank"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
  }

  /** Edit-distance fuzzy self-match over a value dictionary (entity
    * resolution on short strings: names, titles, addresses). Blocking is
    * TWO sorted-neighborhood passes — the value itself and its reverse —
    * so candidates cover both shared-prefix and shared-suffix
    * similarity; each surviving candidate is verified with
    * `levenshtein ≤ maxDist`.
    *
    * Scale shape: candidate count is O(n · 2·window) — it grows with the
    * dictionary, not quadratically within fixed-cardinality blocks (the
    * failure mode of blocking on a categorical token of the value).
    * Verification runs BEFORE the pair-dedup so the distinct shuffles
    * only matched pairs; candidate generation itself shuffles (rank, id)
    * pairs only. Nothing broadcasts the dictionary and nothing
    * nested-loop joins (plan-locked in PlanSpec).
    *
    * Returns (name_a, name_b, dist), name_a < name_b, one row per
    * distinct matched pair.
    */
  def fuzzyPairs(df: DataFrame, keyCol: String, window: Int = 10,
                 maxDist: Int = 3): DataFrame = {
    val names = Lineage.cut(df.select(col(keyCol).as("name")).distinct(),
      "Dedup.fuzzyPairs.names")
    val fwd = sortedNeighborCandidates(names, "name", col("name"), window)
    val rev = sortedNeighborCandidates(names, "name", reverse(col("name")), window)
    fwd.unionAll(rev)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
        levenshtein(col("id_a"), col("id_b")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
  }

  // ------------------------------------------------------ passage dedup

  /** Exact sub-document dedup at passage granularity (the document-level
    * analog of suffix-array substring dedup): split each document into
    * fixed `passageWords`-word passages, keep each distinct passage's
    * globally FIRST occurrence (lowest (doc_id, position)), and
    * reassemble surviving passages in document order. Documents whose
    * every passage occurred earlier elsewhere vanish entirely.
    *
    * Scale shape: passages explode map-side from a single scan; the only
    * shuffles are the first-occurrence window (keyed by passage text)
    * and the per-document reassembly aggregate — both WindowGroupLimit/
    * partial-agg friendly. At 100 TB, key the window by xxhash64 of the
    * passage instead of the text to shrink the exchange to 8 bytes/row
    * (kept as text here so the DuckDB oracle can reproduce it exactly).
    *
    * Returns (id, dedup_text, n_kept).
    */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
                   passageWords: Int = 20): DataFrame = {
    val pw = passageWords
    // split ONCE into an attribute: the slice inside the passage lambda
    // evaluates interpreted, so an inlined split would re-tokenize the
    // document once per passage
    val words = col("__graft_passage_words")
    // ceil(n/pw) passages; sequence is clamped to ≥1 so an empty text
    // contributes its single empty passage rather than a [1,0] range
    val nP = greatest(ceil(size(words) / lit(pw.toDouble)).cast("int"), lit(1))
    val passages = transform(sequence(lit(1), nP),
      i => array_join(slice(words, (i - lit(1)) * pw + lit(1), lit(pw)), " "))
    val rk = "__graft_passage_rk"
    val w = Window.partitionBy(col("passage"))
      .orderBy(col("id").asc, col("pidx").asc)
    docs.select(col(idCol).as("id"),
        split(col(textCol), " ").as("__graft_passage_words"))
      .select(col("id"), posexplode(passages).as(Seq("pos", "passage")))
      .select(col("id"), (col("pos") + 1).as("pidx"), col("passage"))
      .withColumn(rk, row_number().over(w))
      .where(col(rk) === 1)
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pidx"), col("passage")))),
            s => s.getField("passage")), " ").as("dedup_text"),
        count(lit(1)).as("n_kept"))
  }
}
