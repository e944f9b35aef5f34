package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization over event tables: bucket an irregular
  * event stream onto a fixed time grid per key, fill the gaps the
  * stream skipped, and carry the last observation forward — the
  * resample/ffill primitive every metrics/feature pipeline needs before
  * a model ever sees the data (the reference has no time axis at all —
  * `modificationDate` is carried as an opaque string, geonames.js:43 —
  * so this is declared-surface extension work, not a port).
  *
  * Time axis discipline: all arithmetic is on integer microseconds
  * (`unix_micros`), never on date/timestamp values — the driver's
  * `events.ts` is parquet TIMESTAMP(NANOS) and the established oracle
  * parity contract (see q_sessionize / q_funnel) is epoch integers on
  * both engines, which no timezone or calendar rule can bend.
  *
  * Scale shape: the grid ("spine") is generated per key from that key's
  * own [min,max] bucket span — `sequence()` over two longs from a
  * bounded per-key aggregate, then `explode`. There is NO global
  * calendar dimension and no cross-join of keys × buckets; a key
  * contributes exactly its own span. Shuffles: one keyed aggregation to
  * buckets, one (key, bucket) join of spine onto observations, and the
  * forward-fill window partitioned by key — all on the same key, so AQE
  * co-partitions them. Skew bound: a key's window holds its span in
  * buckets (days of history), not its event count.
  */
object Timeseries {

  /** Gap-filled, forward-filled resample of `df` onto a fixed grid.
    *
    * Output, one row per (key, bucket) in the key's observed span:
    * `key`, `bucket` (= floor(micros / bucketMicros), BIGINT),
    * `n_events` (0 on gap buckets), `bucket_sum` (sum of `valueCol`
    * over the bucket's events, null on gaps), `filled_sum` (last
    * non-null `bucket_sum` at or before this bucket).
    *
    * `valueCol` should be exact-typed (integer/decimal) if the caller
    * wants engine-exact fills — the operator does not reassociate
    * anything itself beyond the one SUM per bucket.
    *
    * Rows with a null timestamp bucket to null and are dropped by the
    * spine join (the spine is built from non-null buckets only) —
    * filter or impute upstream if they must count.
    */
  def resample(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: Column, bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    val bucketed = df
      .select(col(keyCol).as("key"),
        floorDiv(unix_micros(col(tsCol)), lit(bucketMicros)).as("bucket"),
        valueCol.as("_t_val"))
      .groupBy(col("key"), col("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("_t_val")).as("bucket_sum"))
    // per-key span: a bounded aggregate (2 longs per key), exploded to
    // the key's own grid — never a global calendar cross-join
    val spine = bucketed
      .groupBy(col("key"))
      .agg(min(col("bucket")).as("_b0"), max(col("bucket")).as("_b1"))
      .select(col("key"),
        explode(sequence(col("_b0"), col("_b1"))).as("bucket"))
    val filled = spine.join(bucketed, Seq("key", "bucket"), "left")
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.select(col("key"), col("bucket"),
      coalesce(col("n_events"), lit(0L)).as("n_events"),
      col("bucket_sum"),
      last(col("bucket_sum"), ignoreNulls = true).over(w).as("filled_sum"))
  }

  /** Time-RANGE rolling aggregate: for every event, the sum/count of
    * `valueCol` over the same key's events in the trailing
    * `windowMicros` (inclusive both ends — RANGE frame, so microsecond
    * ties are peers and the result is order-independent). The frame is
    * a true range frame over the integer time axis: sparse and bursty
    * keys both get exactly their trailing wall-clock window, which a
    * ROWS frame cannot express.
    *
    * One shuffle (key-partitioned sort for the window); the running
    * frame is computed by WindowExec's sliding accumulator — no
    * per-event rescan of the trailing window.
    */
  def rollingRange(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: Column, windowMicros: Long,
                   carryCols: Seq[String] = Nil): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    val base = df.select(
      (Seq(col(keyCol).as("key"), unix_micros(col(tsCol)).as("t_us"),
        valueCol.as("v")) ++ carryCols.map(col)): _*)
    val w = Window.partitionBy(col("key")).orderBy(col("t_us"))
      .rangeBetween(-windowMicros, 0)
    base
      .withColumn("roll_sum", sum(col("v")).over(w))
      .withColumn("roll_n", count(lit(1)).over(w))
  }

  /** Gaps-and-islands interval merge per key: overlapping-or-touching
    * intervals `[start, end)` coalesce into maximal covered spans
    * (islands). ONE key-partitioned window pass — preceding running
    * max of `end` under the (start, tie) order → new-island flag
    * (`start > preceding max`; touching `start == end` extends, the
    * half-closed merge convention) → running island id — plus one
    * island aggregate. Zero-length intervals merge into any island
    * whose span reaches their instant and otherwise form their own
    * empty island.
    *
    * Output: key, island (1-based per key), merged_start, merged_end,
    * n_merged. Shuffle shape: one key-partitioned sort + one
    * (key, island) aggregate — no self-join, no island re-scan.
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: Column,
                     endCol: Column, tieCol: Column): DataFrame = {
    val iv = df.select(col(keyCol).as("key"), startCol.as("s"),
      endCol.as("e"), tieCol.as("_tie"))
    val wOrd = Window.partitionBy(col("key")).orderBy(col("s"), col("_tie"))
    val marked = iv
      .withColumn("_pmax",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_pmax").isNull || col("s") > col("_pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("_new"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("key"), col("island"))
      .agg(min(col("s")).as("merged_start"), max(col("e")).as("merged_end"),
        count(lit(1)).as("n_merged"))
  }

  /** Sweep-line maximum concurrency per key: how many of the key's
    * intervals [start, end) overlap at the busiest instant — peak
    * sessions, peak load, maximum parallel downloads. Classic sweep:
    * every interval contributes a (+1 at start, −1 at end) boundary
    * point; concurrency is the running sum over the key's points under
    * the (t, delta) order (−1 < +1, so half-open intervals touching at
    * an instant do NOT overlap); the answer is the running sum's max.
    *
    * Scale shape — the running sum is TWO-LEVEL, not one window per
    * key: points block by `blockMicros` (default: day); per-(key,
    * block) delta sums roll up to block offsets through a window over
    * the key's bounded block list (days of history, not points), and
    * the within-block running sum is partitioned by (key, block). A
    * single per-key window would serialize a hot key's entire history
    * through one task; here a key's largest partition is one block.
    * Max over a prefix sum is insensitive to the arbitrary order among
    * equal (t, delta) ties (equal-sign runs are monotone), so the
    * result is deterministic.
    */
  def maxConcurrency(df: DataFrame, keyCol: String, startMicros: Column,
                     endMicros: Column,
                     blockMicros: Long = 86400000000L): DataFrame = {
    require(blockMicros > 0, "blockMicros must be positive")
    val starts = df.select(col(keyCol).as("key"), startMicros.as("t"),
      lit(1L).as("d"))
    val ends = df.select(col(keyCol).as("key"), endMicros.as("t"),
      lit(-1L).as("d"))
    val pts = starts.unionAll(ends)
      .withColumn("blk", floorDiv(col("t"), lit(blockMicros)))
    val wBlocks = Window.partitionBy(col("key")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = pts.groupBy(col("key"), col("blk"))
      .agg(sum(col("d")).as("_bsum"))
      .select(col("key"), col("blk"),
        coalesce(sum(col("_bsum")).over(wBlocks), lit(0L)).as("_boff"))
    val wIn = Window.partitionBy(col("key"), col("blk"))
      .orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.join(offsets, Seq("key", "blk"))
      .select(col("key"), (col("_boff") + sum(col("d")).over(wIn)).as("_conc"))
      .groupBy(col("key"))
      .agg(max(col("_conc")).as("max_concurrent"))
  }

  /** Per-key time-weighted average of an observation series — TWAP:
    * each observation's value holds until the key's next observation,
    * so the average weights each value by its holding interval
    * (Σ value·gap / Σ gap). The standard way to summarize an
    * irregularly-sampled metric (price, gauge, queue depth) where a
    * plain mean over-counts bursts of samples.
    *
    * The key's LAST observation has no successor and carries no
    * interval — it is excluded (the right-open convention). Keys with
    * a single observation are therefore dropped entirely.
    *
    * Exactness discipline: gaps are integer microseconds under the
    * total (micros, tieCol) order; values become integer cents; the
    * two sums run as decimal(38,0) — exact at any scale, where a long
    * would overflow at ~10^18 cents·micros and a double sum would be
    * partial-aggregation-order dependent. Only the final ratio (of two
    * exactly-represented sums, identically converted) is floating.
    *
    * Scale shape: ONE key-partitioned lead window over (micros, tie)
    * and a key-keyed aggregate — no self-join, and the shuffle carries
    * (key, micros, cents) rows only.
    */
  def twap(df: DataFrame, keyCol: String, microsCol: Column,
           valueCol: Column, tieCol: Column, roundTo: Int = 6): DataFrame = {
    val w = Window.partitionBy(col("_t_key"))
      .orderBy(col("_t_us").asc, col("_t_tie").asc)
    val withGap = df.select(col(keyCol).as("_t_key"), microsCol.as("_t_us"),
        tieCol.as("_t_tie"),
        round(valueCol * 100).cast("long").as("_t_cents"))
      .withColumn("_t_gap", lead(col("_t_us"), 1).over(w) - col("_t_us"))
      .where(col("_t_gap").isNotNull)
    withGap.groupBy(col("_t_key").as("key"))
      .agg(count(lit(1)).as("n_intervals"),
        sum((col("_t_cents") * col("_t_gap")).cast("decimal(38,0)")).as("_cg"),
        sum(col("_t_gap").cast("decimal(38,0)")).as("_g"))
      .select(col("key"), col("n_intervals"),
        round(col("_cg").cast("double") / col("_g").cast("double") / 100.0,
          roundTo).as("twap"))
  }

  /** Integer floor division as a Column (Spark's `/` is double division
    * and `div` on columns truncates toward zero for negatives; all our
    * epochs are positive so `floor` semantics and `div` agree — kept as
    * an explicit helper so the intent is visible).
    */
  private def floorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Bounded-memory exponentially weighted moving average: over each
    * key's (micros, tie) order, ema_t = Σ_{i=0..depth-1} α^i·x_{t-i}
    * normalized by the weights actually present (rows near the series
    * head use fewer lags). The fixed `depth` truncation is what makes
    * the operator a pure window expression — no recursive state, no
    * per-key scan order dependence — and α^depth residue is the
    * documented approximation (α=0.5, depth=8 → residue < 0.4%).
    *
    * Scale shape: one key-partitioned window sort; the `depth` lag
    * terms are map-side expressions inside that single WindowExec —
    * cost is O(depth) per row with no extra shuffle. Weights α^i are
    * compile-time literal doubles, identical in the oracle, and x is
    * exact integer cents — Σ of ≤depth products is deterministic
    * because the fold order is the fixed literal term order.
    */
  def ewma(df: DataFrame, keyCol: String, microsCol: Column, tieCol: Column,
           centsCol: Column, alpha: Double, depth: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha $alpha out of (0,1)")
    require(depth >= 1 && depth <= 64, s"depth $depth out of [1,64]")
    val w = Window.partitionBy(col("_e_key")).orderBy(col("_e_us"), col("_e_tie"))
    val base = df.select(col(keyCol).as("_e_key"), microsCol.as("_e_us"),
      tieCol.as("_e_tie"), centsCol.cast("double").as("_e_c"))
    // Σ α^i·lag_i and Σ α^i over the lags that exist, folded in literal
    // term order (i = 0 first) so both engines evaluate identically
    val terms = (0 until depth).map { i =>
      val lagged = if (i == 0) col("_e_c") else lag(col("_e_c"), i).over(w)
      (when(lagged.isNotNull, lagged * lit(math.pow(alpha, i))).otherwise(lit(0.0)),
        when(lagged.isNotNull, lit(math.pow(alpha, i))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    base.select(col("_e_key").as("key"), col("_e_us").as("micros"),
      col("_e_tie").as("tie"), round(num / den / 100.0, 4).as("ewma"))
  }

  /** Per-key CUSUM change-point statistic in EXACT integer arithmetic:
    * with the key's observations c_1..c_N in (micros, tie) order, the
    * centered cumulative sum at step i is classically
    * Σ_{j≤i} (c_j − mean) = (N·Σ_{j≤i} c_j − i·Σc) / N — so the prefix
    * walk is computed on the N-scaled numerator S_i = N·cum_i − i·tot,
    * all decimal(38,0), and the single float division happens once at
    * the peak. Reports per key: N, the peak deviation |S|/N (the CUSUM
    * change-point magnitude, in input units), and the step index /
    * timestamp where it peaks (ties → earliest step).
    *
    * Scale shape: ONE key-partitioned window sort produces cum/i/N/tot
    * in the same WindowExec pass, then one key-keyed argmax aggregate
    * (struct max with in-struct tie-break — the [[q_minmax_by]]
    * pattern, no second window). Shuffles carry (key, micros, int128)
    * rows; a hot key spills through WindowExec's external sorter
    * instead of buffering in memory.
    */
  def cusum(df: DataFrame, keyCol: Column, microsCol: Column, tieCol: Column,
            unitsCol: Column): DataFrame = {
    val base = df.select(keyCol.as("g"), microsCol.as("_t"), tieCol.as("_tie"),
      unitsCol.cast("decimal(38,0)").as("_c"))
    val w = Window.partitionBy(col("g")).orderBy(col("_t"), col("_tie"))
    val whole = Window.partitionBy(col("g"))
    val stepped = base
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(whole))
      .withColumn("_tot", sum(col("_c")).over(whole))
    stepped
      .select(col("g"), col("_t"), col("_i"), col("_n"),
        abs(col("_cum") * col("_n") - col("_tot") * col("_i")).as("_abs"))
      .groupBy(col("g"))
      .agg(max(col("_n")).as("n"),
        max(struct(col("_abs"), (-col("_i")).as("_negi"),
          col("_i"), col("_t"))).as("_pk"))
      .select(col("g"), col("n"),
        round(col("_pk._abs").cast("double") / col("n"), 4).as("peak_stat"),
        col("_pk._i").as("peak_i"), col("_pk._t").as("peak_t"))
  }

  /** Autocorrelation function per key: Pearson corr between the key's
    * daily totals x_d and x_{d+lag} for lag = 1..`maxLag` — the
    * seasonality/persistence diagnostic (a weekly cycle shows as an
    * ACF spike at lag 7). Daily totals are exact integer sums; only
    * the final corr is float, rounded.
    *
    * Scale shape: the corpus reduces map-side to the bounded
    * (key, day) daily-total dimension; lagged pairs come from ONE
    * equi-join on (key, day) after a `maxLag`-way explode of the
    * dimension (never a range/theta join over the raw events), and the
    * result is a (key, lag) aggregate — every shuffle after the first
    * reduction is dimension-sized.
    */
  def acf(df: DataFrame, keyCol: Column, microsCol: Column,
          unitsCol: Column, maxLag: Int, roundTo: Int = 4): DataFrame = {
    require(maxLag >= 1 && maxLag <= 366, s"maxLag $maxLag out of [1,366]")
    val daily = Lineage.cut(df.select(keyCol.as("g"),
        floorDiv(microsCol, lit(86400000000L)).as("_day"),
        unitsCol.cast("long").as("_c"))
      .groupBy(col("g"), col("_day")).agg(sum(col("_c")).as("_c")),
      "Timeseries.acf.daily")
    val shifted = daily
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .select(col("g"), col("lag"), (col("_day") + col("lag")).as("_day"),
        col("_c").as("_c_prev"))
    daily.join(shifted, Seq("g", "_day"))
      .groupBy(col("g"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("_c_prev"), col("_c")), roundTo).as("acf"))
  }
}
