package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket association mining: which items co-occur in the same
  * basket more than their individual popularity predicts. The grouped
  * complement of [[Retrieval.collocations]] (adjacency in a sequence);
  * here the unit is an unordered basket (an order, a session, a doc's
  * tag set).
  */
object Baskets {

  /** Item-pair co-occurrence with lift.
    *
    * Output per surviving pair (item_a < item_b):
    * `n_ab` baskets containing both, and
    * `lift = n_ab·N / (n_a·n_b)` (>1 ⇒ the pair attracts).
    *
    * Scale shape: baskets reduce to DISTINCT (basket, item) first; the
    * pair generation is a self-join on the basket key, whose fan-out is
    * bounded by basket size squared (baskets are small by nature —
    * orders, sessions), never by item popularity. `minCount` prunes
    * before the support joins; supports are an item-keyed dimension and
    * the basket total is one broadcast row. Everything is integer until
    * the final lift division, so the lift is engine-exact. The distinct
    * item table is cut once ([[Lineage.cut]]) — four consumers
    * (basket total, supports, both self-join sides) would otherwise
    * each redo the dedup shuffle.
    *
    * Loud-failure fan-out guard (the `maxDegreeCheck` discipline of
    * [[Graphs]] / Bpe.trainMerges): the self-join's blow-up is
    * Σ |basket|², so ONE pathological basket of 10⁵ items turns into
    * 10¹⁰ pairs with no warning. `maxBasketCheck` caps the largest
    * distinct-item basket before the join — one aggregate over the
    * already-materialized item table — and a 100× input whose baskets
    * stopped being "small by nature" fails NAMING THE KNOB instead of
    * melting a cluster. Pass ≤ 0 to skip (callers that already bound
    * basket size upstream).
    *
    * @note BEHAVIOR CHANGE (r14): the guard defaults ON at 10000. A
    *       caller whose legitimate baskets exceed 10k items — previously
    *       accepted, at Σ|basket|² self-join cost — must now pass an
    *       explicit `maxBasketCheck` (or ≤ 0 to opt out of the check).
    * @note r15: the basket-size aggregate always runs (one job over the
    *       already-materialized item table) because it now also yields
    *       the basket total N — replacing the countDistinct subtree the
    *       plan previously recomputed per execution; opting out of the
    *       guard no longer skips that job, it only skips the require().
    */
  def cooccurrence(df: DataFrame, basketCol: Column, itemCol: Column,
                   minCount: Long, maxBasketCheck: Long = 10000): DataFrame = {
    // the guard/N aggregate below computes the cut's blocks
    val items = Lineage.cut(df.select(basketCol.as("_b"), itemCol.as("_i")).distinct(),
      "Baskets.cooccurrence.items")
    // ONE aggregate over the basket-size table serves BOTH the fan-out
    // guard (max |basket|) and the basket total N (count of non-null
    // basket groups == countDistinct(_b)) — previously the guard ran its
    // own aggregate job AND the plan carried a two-exchange countDistinct
    // subtree for N (guide §2.4: don't recompute what one pass yields).
    // N rides the plan as a literal; the lift arithmetic is unchanged
    // (long·long product, double division).
    val szRow = items.groupBy(col("_b")).agg(count(lit(1)).as("_sz"))
      .agg(max(col("_sz")), count(col("_b"))).head()
    val mx = if (szRow.isNullAt(0)) 0L else szRow.getLong(0)
    val nBaskets = szRow.getLong(1)
    if (maxBasketCheck > 0)
      require(mx <= maxBasketCheck,
        s"cooccurrence pair fan-out is sum(|basket|^2): max basket size " +
          s"$mx exceeds maxBasketCheck=$maxBasketCheck — cap baskets " +
          "upstream (e.g. drop or sample mega-baskets) or raise the knob")
    val support = items.groupBy(col("_i")).agg(count(lit(1)).as("_s"))
    // NOT spread (r16 measured non-lever): pinning the self-join's
    // partitioning to the core count (basket-keyed REPARTITION_BY_NUM
    // on both sides, replacing the AQE-coalesced ENSURE exchanges)
    // made the query SLOWER (1.86 → 2.06 s, shuffle 36 → 48 MB, task
    // time 3.8 → 21 s at sf0.1/32 cores): the pair partial-aggregate
    // state duplicates across tasks — the same mechanism that sank the
    // r15 minPartitionSize probe. AQE's byte-based coalescing is the
    // right call for an agg-above-join shape.
    val pairs = items.select(col("_b"), col("_i").as("item_a"))
      .join(items.select(col("_b"), col("_i").as("item_b")), Seq("_b"))
      .where(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    pairs
      .join(support.select(col("_i").as("item_a"), col("_s").as("_sa")), "item_a")
      .join(support.select(col("_i").as("item_b"), col("_s").as("_sb")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_ab"),
        ((col("n_ab") * nBaskets) / (col("_sa") * col("_sb"))).as("lift"))
  }
}
