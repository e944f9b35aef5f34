package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Writes docs/PLANS.md: the formatted physical plan of each headline
  * query at sf0.001 — the `.explain("formatted")` audit trail. Re-run
  * after plan-affecting changes:
  *   sbt "runMain graft.tools.ExplainDump"
  * The output is reproducible: two runs write the same bytes, because
  * [[normalize]] masks the plan tokens that change from run to run.
  */
object ExplainDump {
  private val headline = Seq(
    "q_flagship", "q_scan_project", "q_prefix_match", "q_broadcast_join",
    "q_smj", "q_asof_join", "q_agg_multi", "q_topk", "q_window_rank",
    "q_minhash_pairs", "q_embedding_neardup", "q_embedding_neardup_lsh",
    "q_ngram_jaccard", "q_ivf_topk", "q_tumbling_batch",
    "q_scalar_subquery", "q_pivot", "q_decontaminate", "q_repetition",
    "q_lang_id", "q_curation_pipeline", "q_pq_topk", "q_ivfpq_topk", "q_stratified_sample",
    "q_decontaminate_bloom", "q_cdc_upsert", "q_passage_dedup", "q_bucket_join",
    "q_pack_sequences", "q_zorder_scan", "q_heavy_hitters",
    "q_funnel", "q_shuffle_rank", "q_quality_bins", "q_bm25",
    "q_knn_graph_lsh", "q_bpe_pairs", "q_pagerank",
    "q_sorted_neighbors", "q_unigram_logprob", "q_cms_counts",
    "q_fuzzy_join", "q_salted_join",
    "q_tfidf", "q_triangles", "q_chunk_tokens", "q_containment",
    "q_profile", "q_ivfpq_rerank", "q_image_decode", "q_audio_decode",
    "q_dedup_clusters_star",
    "q_resample", "q_rolling_range", "q_transitions", "q_label_prop",
    "q_collocations", "q_jaro", "q_gini", "q_outlier_iqr", "q_chisq",
    "q_ppjoin", "q_cooccurrence", "q_weighted_sample", "q_geo_nearest",
    "q_minmax_by", "q_pct_change", "q_max_concurrency", "q_khop",
    "q_cross_source", "q_shj", "q_winsorize",
    "q_hard_negatives", "q_retrieval_eval", "q_semantic_dedup",
    "q_confusion_pairs", "q_token_budget", "q_label_centroids",
    "q_incremental_dedup", "q_mixture_weights", "q_incdedup_stream_batch",
    "q_quality_classifier", "q_image_neardup", "q_dedup_keepers_quality",
    "q_dup_spans", "q_join_cardinality", "q_calibration",
    "q_welch_ttest", "q_benford", "q_bool_retrieval", "q_readability",
    "q_except_all", "q_intersect_all",
    "q_bfs", "q_anova", "q_seq_match", "q_ewma",
    "q_constraints", "q_substring_search", "q_weighted_median",
    "q_landmark", "q_split_leakage", "q_rrf_fusion", "q_ks_test",
    "q_mode",
    "q_link_predict", "q_hits", "q_cusum", "q_acf", "q_spearman",
    "q_attribution", "q_phrase_search", "q_ctfidf", "q_moments",
    "q_extract_entities",
    "q_merge_intervals", "q_asof_nearest", "q_edge_jaccard", "q_cdf",
    "q_percentile_disc", "q_incremental_agg", "q_concentration",
    "q_burstiness", "q_window_firstlast", "q_pivot_multi",
    "q_ppr", "q_lag_features", "q_kanon", "q_daily_percentiles",
    "q_freshness", "q_zipf_fit",
    // round 7: plans that changed (reduce-before-join bigram, fused
    // winsorize fences, sliced knn anchor, pruned shingle pair joins)
    "q_bigram_logprob", "q_knn_graph",
    // round 7 additions
    "q_boilerplate", "q_unpivot", "q_gopher_rules", "q_cuped",
    // round 8 additions
    "q_bootstrap_ci", "q_ratio_metric", "q_sequential_test",
    "q_fdr_adjust", "q_survival", "q_mann_whitney", "q_proportion_test",
    "q_dsir", "q_dsir_sql", "q_ldiversity",
    "q_pca_covariance", "q_pca_project", "q_did", "q_srm", "q_survival_sql",
    "q_pairwise_prefs", "q_bradley_terry", "q_tfidf_cosine",
    // round 10 additions (bounded geo k-NN; the hammingPairs plans are
    // listed above and re-dump with the chunk-combination keys)
    "q_geo_knn_radius", "q_simhash_pairs",
    // round 10: the SQ8 byte-grid and 1-bit Hamming-shortlist ANN tiers
    "q_sq8_topk", "q_bq_topk")

  private val tmpDir = java.util.regex.Pattern.quote(
    System.getProperty("java.io.tmpdir").stripSuffix("/"))

  /** Mask what differs between two runs of the same code, or moves with
    * an unrelated edit: object hash codes (`[J@16433d56`,
    * `[[Ljava.lang.String;@5e9f23b4`, `Ivf$CentroidAgg@4f347aae`), the
    * random suffix of per-run temp dirs (`/tmp/graft-embpairs1051…/pairs`),
    * exchange `plan_id`s and source line numbers in RDD call sites
    * (`at Lineage.scala:39`). Expression ids (`id#2624L`) and RDD ids
    * (`MapPartitionsRDD[634]`) are JVM-global counters, so they are
    * renumbered from 1 in order of first appearance within the plan:
    * one id keeps one number, and two ids keep two.
    */
  def normalize(plan: String): String =
    renumber(renumber(plan, exprId), rddId)
      .replaceAll("(?<=[\\w$;])@[0-9a-f]{1,8}\\b", "@<hash>")
      .replaceAll(s"$tmpDir/([A-Za-z][A-Za-z-]*)\\d+", "<tmp>/$1")
      .replaceAll("plan_id=\\d+", "plan_id=<n>")
      .replaceAll("(?<=\\.scala):\\d+", "")

  private val exprId = "(?<=\\S#)\\d+".r
  private val rddId = "(?<=RDD\\[)\\d+(?=\\])".r

  private def renumber(plan: String, id: scala.util.matching.Regex): String = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    id.replaceAllIn(plan, m => seen.getOrElseUpdate(m.matched, seen.size + 1).toString)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "docs/PLANS.md"
    val spark = ToolSession(4)
    val sb = new StringBuilder
    sb.append("# Physical plans (headline queries, sf0.001)\n\n")
    sb.append("Generated by `graft.tools.ExplainDump`. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` at every scan, `BroadcastHashJoin`\n")
    sb.append("for bounded dimensions, `SortMergeJoin` only big-big,\n")
    sb.append("`TakeOrderedAndProject` for top-k, native kernels\n")
    sb.append("(`minhash_sig`, `cosine_sim`) inline in projections,\n")
    sb.append("`Scan ExistingRDD graft-cut:<site>` where a lineage cut is read.\n")
    sb.append("Hash codes, temp-dir suffixes, `plan_id`s and source line numbers\n")
    sb.append("are masked, and expression and RDD ids are numbered per plan, so a\n")
    sb.append("regeneration of unchanged code is byte-identical.\n")
    headline.foreach { name =>
      val plan = normalize(SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain-dump] wrote $out (${headline.size} plans)")
    spark.stop()
  }
}
