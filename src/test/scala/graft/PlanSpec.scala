package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape regression tests: the 100 TB discipline encoded as
  * assertions — pushdown reaches the scan, dimension joins broadcast,
  * big-big joins sort-merge, top-k fuses, dedup kernels stay inside
  * WholeStageCodegen. Runs against sf0.001 (plan shape is
  * scale-invariant; AQE's initial plan is what we assert on).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_project: filter and column pruning pushed to parquet scan") {
    val p = planOf("q_scan_project")
    p should include("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]")
    p should include("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>")
  }

  test("q_flagship: both dimension joins broadcast, no sort-merge join") {
    val p = planOf("q_flagship")
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q_semi_join: broadcast left-semi, not shuffled") {
    val p = planOf("q_semi_join")
    p should include("BroadcastHashJoin")
    p should include("LeftSemi")
  }

  test("q_smj: big-big join resolves to sort-merge") {
    planOf("q_smj") should include("SortMergeJoin")
  }

  test("q_topk: global sort+limit fuses to TakeOrderedAndProject") {
    val p = planOf("q_topk")
    p should include("TakeOrderedAndProject")
    (p should not).include("ShuffleExchange") // no full range-partitioned sort
  }

  test("q_prefix_match: classification is a plan constant (coalesce chain), no join") {
    val p = planOf("q_prefix_match")
    (p should not).include("Join")
    p should include("element_at") // the constant-folded map probe chain
  }

  test("q_minhash_pairs: native band-key kernel in plan, single-long join key") {
    // signatures are materialized at an eager localCheckpoint (so the
    // plan reads a checkpoint RDD); banding + agreement kernels remain
    // in the query plan with the single-long band key
    val p = planOf("q_minhash_pairs")
    p should include("lsh_band_keys")
    p should include("sig_agreement")
    p should include("bkey")
  }

  test("q_agg_multi: partial aggregation before the shuffle (two-phase hash agg)") {
    val p = planOf("q_agg_multi")
    p should include("HashAggregate")
    p.indexOf("partial_sum") should be > 0
  }

  test("q_range_join: banded non-equi join broadcasts the tiny band table") {
    planOf("q_range_join") should include("BroadcastNestedLoopJoin")
  }

  test("q_embedding_neardup_lsh: bucketed equi-join scale path, no nested-loop join") {
    val p = planOf("q_embedding_neardup_lsh")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    p should include("sign_lsh_bands") // candidates come from the band kernel
  }

  test("q_ngram_jaccard (pair source of the _ngram cluster queries): no nested-loop join") {
    val p = planOf("q_ngram_jaccard")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_dpp_prune: partition filter prunes at runtime via dynamic partition pruning") {
    planOf("q_dpp_prune") should include("dynamicpruning")
  }

  test("q_pit_join: SCD2 point-in-time enrichment is the as-of union plan — no join operator at all") {
    val p = planOf("q_pit_join")
    (p should not).include("Join") // union + one keyed window, not a range join
    p should include("Window")
  }

  test("q_geo_pairs: grid-cell spatial join is equi-join only — no nested loop, no cartesian") {
    val p = planOf("q_geo_pairs")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_interval_join: bucketed interval overlap is equi-join only — no nested loop, no cartesian") {
    val p = planOf("q_interval_join")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_fuzzy_join: sorted-neighborhood blocking is equi-join only — no nested loop, no cartesian") {
    val p = planOf("q_fuzzy_join")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_jaro: successor-rank candidates are equi-joins — no nested loop, no cartesian") {
    val p = planOf("q_jaro")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_resample: spine join stays an equi-join; forward fill is key-partitioned") {
    val p = planOf("q_resample")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    // the ffill window must be partitioned by the key (a global window
    // would single-partition the corpus): the windowspecdefinition's
    // first argument is the partition column
    p should include regex "windowspecdefinition\\(key#\\d+L, bucket"
  }

  test("q_outlier_iqr/q_mad: the fence/median dimension joins broadcast") {
    planOf("q_outlier_iqr") should include("BroadcastHashJoin")
    planOf("q_mad") should include("BroadcastHashJoin")
  }

  test("q_gini: rank is two-level — no unpartitioned corpus window over the key dimension") {
    val p = planOf("q_gini")
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("q_ppjoin: prefix-filtered candidates are equi-joins only") {
    val p = planOf("q_ppjoin")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_image_neardup: banded-Hamming candidates are equi-joins only") {
    val p = planOf("q_image_neardup")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_geo_knn_radius: grid equi-join only, per-query window prunes to k") {
    val p = planOf("q_geo_knn_radius")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    // the rn <= k filter must push into the window as a rank limit so a
    // dense cell sorts only k survivors per query point, never the full
    // candidate list
    p should include("WindowGroupLimit")
  }

  test("q_shj: hint forces a shuffled hash join (neither broadcast nor sort-merge)") {
    val p = planOf("q_shj")
    p should include("ShuffledHashJoin")
    (p should not).include("SortMergeJoin")
  }

  test("q_curation_pipeline: hash joins only, no nested-loop join") {
    val p = planOf("q_curation_pipeline")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_ivfpq_topk: broadcast probe join, no nested-loop join, pruned top-k") {
    val p = planOf("q_ivfpq_topk")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    p should include("WindowGroupLimit")
  }

  test("q_bucket_join: co-located bucketed join+agg plans with zero exchanges") {
    val p = planOf("q_bucket_join")
    p should include("SortMergeJoin")
    p should include("Bucketed: true")
    // the entire join+aggregate pipeline rides the bucket layout — the
    // only allowed exchange is the final ORDER BY's range repartition
    p.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("rangepartitioning")).toSeq shouldBe empty
  }

  test("q_cdc_upsert: no join — union + map-side-pruned rank window") {
    val p = planOf("q_cdc_upsert")
    (p should not).include("Join")
    p should include("WindowGroupLimit")
    p should include("Union")
  }

  test("q_decontaminate_bloom: bloom probe map-side, shuffle-hash verify, no bench broadcast join") {
    val p = planOf("q_decontaminate_bloom")
    p should include("bloom_might_contain")
    p should include("ShuffledHashJoin")
  }

  test("q_passage_dedup: passage window prunes to first occurrence map-side") {
    val p = planOf("q_passage_dedup")
    p should include("WindowGroupLimit")
    (p should not).include("Join")
  }

  test("q_profile: every scan prunes to exactly its one profiled column") {
    val p = planOf("q_profile")
    p should include("ReadSchema: struct<l_orderkey:bigint>")
    p should include("ReadSchema: struct<l_quantity:double>")
    p should include("ReadSchema: struct<l_returnflag:string>")
    (p should not).include("Join")
  }

  test("q_chunk_tokens: map-only fan-out — no join, no aggregate, only the output sort shuffles") {
    val p = planOf("q_chunk_tokens")
    (p should not).include("Join")
    (p should not).include("HashAggregate")
    p.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("rangepartitioning")).toSeq shouldBe empty
  }

  test("q_tfidf: per-doc top-k pruned map-side, df broadcast back, no nested loop beyond the scalar count") {
    val p = planOf("q_tfidf")
    p should include("WindowGroupLimit")
    p should include("BroadcastHashJoin")
    // the only BNLJ is the single-row corpus count (Cross BuildRight on
    // a one-row aggregate) — never a row×row product
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) should be <= 1
  }

  test("q_triangles and q_containment: equi-joins only, no nested loop, no cartesian") {
    Seq("q_triangles", "q_containment").foreach { q =>
      val p = planOf(q)
      (p should not).include("BroadcastNestedLoopJoin")
      (p should not).include("CartesianProduct")
    }
  }

  test("q_hard_negatives: single broadcast query probe, pruned top-k") {
    val p = planOf("q_hard_negatives")
    // the one BNLJ is the tiny broadcast query set riding the corpus
    // scan — never a row×row product of two large sides
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) should be <= 1
    (p should not).include("CartesianProduct")
    p should include("WindowGroupLimit")
  }

  test("q_retrieval_eval: broadcast probe + broadcast label totals, pruned top-k") {
    val p = planOf("q_retrieval_eval")
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) should be <= 1
    (p should not).include("CartesianProduct")
    p should include("WindowGroupLimit")
    p should include("BroadcastHashJoin")
  }

  test("q_label_centroids: map-side partial agg collapses the fan-out — one data exchange, no join") {
    val p = planOf("q_label_centroids")
    (p should not).include("Join")
    p should include("HashAggregate")
    // partial agg bounds the shuffle to |labels|·d rows per task: the
    // only exchanges are the agg's hash partitioning + the output sort
    p.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("rangepartitioning")).toSeq should have size 1
  }

  test("q_confusion_pairs: broadcast probe, pruned top-k, bounded label-pair output") {
    val p = planOf("q_confusion_pairs")
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) should be <= 1
    (p should not).include("CartesianProduct")
    p should include("WindowGroupLimit")
  }

  test("q_token_budget: map-only scoring + one source-keyed window, no join") {
    val p = planOf("q_token_budget")
    (p should not).include("Join")
    p should include("Window")
    // one source-keyed exchange + the output sort — nothing else
    p.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("rangepartitioning")).toSeq should have size 1
  }

  test("q_incremental_dedup: shingle equi-joins only — no nested loop, no cartesian") {
    val p = planOf("q_incremental_dedup")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_mixture_weights: bounded aggregates — only one-row broadcast joins") {
    val p = planOf("q_mixture_weights")
    // the one cross join is a one-row total broadcast back — never a
    // row×row product of data-sized sides
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) should be <= 1
    (p should not).include("SortMergeJoin")
  }

  test("q_semantic_dedup: cluster-bucketed equi-joins only — no nested loop, no cartesian") {
    val p = planOf("q_semantic_dedup")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_substring_search: needle-gram IN filter pushed into the posting-index scan") {
    val p = planOf("q_substring_search")
    // the index probe must prune at the parquet scan, not post-scan:
    // the posting fixture is gram-sorted so In(g, …) hits row-group stats
    p should include("PushedFilters: [In(g")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_split_leakage and q_bfs: vertex/doc equi-joins only — no nested loop") {
    Seq("q_split_leakage", "q_bfs").foreach { q =>
      val p = planOf(q)
      (p should not).include("BroadcastNestedLoopJoin")
      (p should not).include("CartesianProduct")
    }
  }

  test("q_welch_ttest: the only nested loops are bounded group-dimension pairs") {
    val p = planOf("q_welch_ttest")
    // dim×dim pair join over per-group aggregates (≤k rows a side) plus
    // its exchange reuse — never a data×data product
    p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) should be <= 2
    (p should not).include("SortMergeJoin")
  }

  test("q_phrase_search: map-only HOF scan — no join, no exchange before the sort") {
    val p = planOf("q_phrase_search")
    (p should not).include("Join")
    // the only exchange is the final presentation orderBy's range partition
    p.linesIterator.count(_.contains("Exchange")) should be <= 1
  }

  test("q_link_predict and q_acf: equi-joins only — no nested loop, no cartesian") {
    Seq("q_link_predict", "q_acf").foreach { q =>
      val p = planOf(q)
      (p should not).include("BroadcastNestedLoopJoin")
      (p should not).include("CartesianProduct")
    }
  }

  test("q_ctfidf: dimension-sized joins — term totals broadcast, one-row A broadcast") {
    val p = planOf("q_ctfidf")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin") // dimension joins stay broadcast
  }

  test("q_boilerplate: df window keyed by xxhash64 — text never rides the window exchange") {
    // the document-frequency pass partitions/sorts by the 8-byte
    // xxhash64(passage), not the passage string, and its input carries
    // only (id, pidx, hash); the text rejoins by the (id, pidx)
    // equi-key afterwards — so the plan must show the hash window, an
    // equi join (never a nested loop), and NO passage-string window key
    val p = planOf("q_boilerplate")
    p should include("xxhash64")
    // both window operators (lag + partition sum) key on _ph
    "windowspecdefinition\\(_ph".r.findAllIn(p).size should be >= 2
    (p should not).include("windowspecdefinition(passage")
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_unpivot: pure map-side expand — no exchange before the output sort") {
    val p = planOf("q_unpivot")
    p should include("Expand")
    // the only exchange is the presentation sort's range partitioning
    "Exchange".r.findAllIn(p).size shouldBe 1
    p should include("rangepartitioning")
  }

  test("q_gopher_rules: map-only rule battery — no join, no aggregate, one exchange") {
    val p = planOf("q_gopher_rules")
    (p should not).include("Join")
    (p should not).include("HashAggregate")
    "Exchange".r.findAllIn(p).size shouldBe 1 // the presentation sort only
  }

  test("q_bootstrap_ci: single corpus-keyed typed aggregate, bounded explode, no join") {
    // the replicate loop runs INSIDE PoissonRepAgg (one keyed aggregate
    // over the corpus — no ×R row expansion before the shuffle); the
    // only Generate explodes the |G| aggregate rows into the bounded
    // |G|·R replicate table, and n/mean ride along — no join of any
    // kind anywhere
    val p = planOf("q_bootstrap_ci")
    p should include("poissonrepagg")
    p should include("Generate explode")
    (p should not).include("Join")
    (p should not).include("CartesianProduct")
  }

  test("q_dsir: bucket dimensions join by broadcast — grams never meet a shuffle join") {
    val p = planOf("q_dsir")
    // r15: the dim is ONE conditional-sum aggregate (the old shape's
    // rawDim LEFT JOIN tgtDim is gone — guide §2.4), so the plan keeps
    // exactly the scoring-side broadcast join; assert the 100 TB
    // property directly: no shuffle join anywhere near the gram stream
    "BroadcastHashJoin".r.findAllIn(p).size should be >= 1
    (p should not).include("SortMergeJoin")
    (p should not).include("ShuffledHashJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_mann_whitney: value-dimension reduction — no join anywhere") {
    val p = planOf("q_mann_whitney")
    (p should not).include("Join")
    p should include("windowspecdefinition")
  }

  test("q_survival and q_sequential_test: dimension windows, no shuffle joins") {
    Seq("q_survival", "q_sequential_test").foreach { q =>
      val p = planOf(q)
      p should include("windowspecdefinition")
      (p should not).include("SortMergeJoin")
      (p should not).include("CartesianProduct")
    }
  }

  test("q_tfidf_cosine: prefix-filtered candidate join, pair-keyed map verify") {
    // the AllPairs prefix shape (Retrieval.tfidfCosinePairs): the term
    // self-join reads the checkpointed PREFIX projection with the
    // pairwise suffix-norm product in the join condition, and the exact
    // dot runs pair-keyed over per-doc (term → weight) maps — never a
    // second corpus product. No nested loop anywhere (the corpus-count
    // broadcast lives inside the eager checkpoint build).
    val p = planOf("q_tfidf_cosine")
    p should include("_ba")                 // suffix-norm columns gate the join
    p should include("_bb")
    // per-doc weight maps build (r16: ONE id-keyed aggregate yields the
    // verify map — conditional on df ≥ 2 — AND the norm, so the
    // collect_list sits under a CASE WHEN beside the norm sum; Catalyst
    // additionally folds map_entries(map_from_entries(entries)) back to
    // the raw entry array, so no standalone map build node remains)
    p should include("collect_list(CASE WHEN")
    p should include("map_entries")         // the pair-keyed exact dot
    p should include("element_at")          // ... probing the partner's map
    (p should not).include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
  }

  test("q_pca_covariance: native triangle kernel + flat-index decode after aggregation") {
    // the d(d+1)/2 expansion is the codegen kernel (not an interpreted
    // HOF pyramid), and the (i, j) decode joins a broadcast lookup
    // AFTER the idx-keyed aggregate — d² keys, never corpus rows
    val p = planOf("q_pca_covariance")
    p should include("upper_tri_products")
    (p should not).include("slice(")        // the old interpreted HOF chain
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
  }

  test("Par.spreadSmallScan: the one-split scale gate, pinned on both sides of the bound") {
    // the spread fires iff the optimizer's size estimate is at most one
    // scan split (spark.sql.files.maxPartitionBytes): pin the bound to the
    // estimate itself (fires) and to one byte below it (identity)
    val key = "spark.sql.files.maxPartitionBytes"
    val li = graft.sources.Tables.lineitem(spark, dir)
    val est = li.queryExecution.optimizedPlan.stats.sizeInBytes
    est should be > BigInt(1)
    def spreadPlan(bound: BigInt): String = {
      val before = spark.conf.getOption(key)
      spark.conf.set(key, bound.toString)
      try graft.operators.Par.spreadSmallScan(li, org.apache.spark.sql.functions.col("l_orderkey"))
        .queryExecution.executedPlan.toString
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val below = spreadPlan(est)
    below should include("Exchange hashpartitioning(xxhash64(l_orderkey")
    val above = spreadPlan(est - 1)
    (above should not).include("Exchange")
    (li.queryExecution.executedPlan.toString should not).include("Exchange")
  }
}
