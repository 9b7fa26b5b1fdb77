package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Writes EXPLAINS.md: formatted physical plans of the flagship queries,
  * regenerated on demand (`sbt "runMain graft.ExplainDump"`). */
object ExplainDump {
  val flagships = Seq(
    "rel_filter_pushdown", "rel_join_multi", "rel_topk", "rel_q1_pricing",
    "rel_q3_shipping", "rel_correlated", "rel_join_salted",
    "o1_apply_vec", "o1_apply_ast", "asof_join", "asof_join_near",
    "range_join",
    "dedup_minhash_pairs", "dedup_embedding", "sim_ann_topk", "sim_ivf_topk",
    "o5_rolling_time", "o5_rolling_triang", "o5_rolling_gauss", "sessionize",
    "sample_det", "sample_topk",
    "doc_chunks", "text_bm25", "rel_join_bucketed", "rel_join_outer",
    "rel_percentiles", "rel_q5_region", "o5_rolling_cov", "o6_resample_ffill",
    "rel_q18_topcust", "rel_describe", "rel_melt", "o5_ewm_mean",
    "emb_quantize", "pipe_curation", "text_vocab", "src_partitioned_roundtrip",
    "feat_zscore", "o6_resample_ohlc", "rel_q10_returns", "pipe_embed_dedup",
    "asof_join_strict", "o4_groupby_idxmax", "text_decontam",
    "text_repetition", "pipe_pack_sequences", "pipe_e2e_curation",
    "approx_aggs",
    "mix_resample", "mix_token_budget", "split_leak_safe",
    "o5_rolling_kurt", "o5_rolling_median", "o5_rolling_corr",
    "text_clean_lines", "dedup_paragraphs", "mix_dsir_select",
    "pipe_mix_pack", "text_bpe_apply", "sample_shuffle",
    "dedup_span", "dedup_semantic", "dedup_normalized",
    "mix_nb_classify", "mix_temperature", "text_dup_ngrams",
    "pipe_rag_retrieval", "mm_neardup_pairs", "pipe_mm_dedup",
    "mix_unimax", "dedup_soft_weights", "pipe_dense_retrieval",
    "mix_nb_calibration", "dedup_incremental", "text_source_overlap",
    "text_boilerplate", "text_contam_rate", "mix_keep_rate",
    "doc_cdc_chunks", "dedup_cdc_stats", "text_distinct_kmv",
    "sim_margin_mining", "sim_hard_negatives", "emb_label_noise",
    "dedup_cluster_stats", "text_tfidf_keywords", "text_pii_stats",
    "text_bpe_compression", "pipe_datasheet", "dedup_emb_incremental",
    "pipe_confidence_gate", "pack_fill_stats", "text_lang_mix",
    "text_phrase_search", "mix_curriculum", "sample_weighted", "text_k_anon",
    "dedup_d4", "text_perplexity_bigram", "text_ccnet_buckets",
    "sample_strat_k", "text_phrase_ctx", "pipe_curriculum_pack",
    "mm_dhash", "pack_by_length", "rel_q7_volume", "rel_q14_promo",
    "rel_funnel", "rel_cohort", "rel_fuzzy_join", "graph_pagerank",
    "rel_twap", "pipe_temperature_mix", "pipe_ccnet_filter",
    "dedup_containment",
    "text_winnowing", "dedup_winnow_pairs", "text_heavy_hitters",
    "layout_zorder", "rel_scd2", "rel_attribution", "mix_doremi",
    "ts_holt", "emb_rand_proj", "graph_triangles", "graph_communities",
    "pipe_graph_audit", "mm_phash", "rel_data_checks",
    "rel_record_linkage", "feat_equidepth", "sim_proj_rerank",
    "text_repetition_full", "dedup_winnow_incremental", "mm_phash_pairs",
    "o5_rolling_mad", "o6_resample_bfill", "src_evolving_roundtrip",
    // round 12
    "rel_q2_mincost", "rel_q4_priority", "rel_q6_forecast", "rel_q8_share",
    "rel_q9_profit", "rel_q11_stock", "rel_q12_shipmode", "rel_q13_custdist",
    "rel_q15_topsupp", "rel_q16_suppcnt", "rel_q17_smallqty", "rel_q19_bands",
    "rel_q20_excess", "rel_q21_waiting", "rel_q22_dormant",
    "mm_fingerprints", "src_evolving_append", "src_partition_backfill",
    "text_url_canon", "pipe_domain_curation", "dedup_temporal",
    "mix_quantile_align", "priv_l_diversity", "text_collocations",
    "rel_merge_upsert", "rel_snapshot_diff", "rel_transitions",
    "rel_interval_overlap", "dedup_jaccard_prefix", "layout_compaction",
    "text_novelty", "sim_kcenter", "graph_kcore", "feat_robust_scale",
    "feat_target_encode", "feat_drift_hist", "sessionize_dynamic",
    "rel_incr_agg", "rel_corr_matrix", "feat_impute_locf", "text_top_terms",
    // round 13
    "sim_mmr", "sim_rrf_fusion", "sim_recall_at_k", "text_oov_rate",
    "o4_groupby_by_index", "dedup_jaccard_weighted", "sim_pq_topk",
    "sim_ivfpq_topk",
    // round 14: the skew-audit relational query plus the members of
    // the r13 drift cluster not already frozen above — so the next
    // round's diff can rule plan changes in or out in one look
    "rel_skew_audit", "feat_one_hot", "feat_zscore",
    "layout_zorder", "mix_nb_classify",
    // round 15: the five r14 queries (r14 verdict item 2), the r14
    // weak-list member (its plan frozen so the drift adjudication can
    // rule a plan change in/out), and this round's three new queries
    "sim_mmr_ivf", "sim_recall_pq", "stream_scd2_file",
    "o4_groupby_dropna", "pipe_skew_salted", "o5_rolling_hamming",
    "o4_groupby_nosort", "pipe_skew_salted_left", "stream_hh_file",
    "dedup_incr_bloom",
    // round 15 (cont.): Lloyd-trained quantizer family + k-means
    "sim_pq_trained", "sim_recall_trained", "sim_ivf_trained",
    "sim_kmeans", "sim_kmeans_protos", "stream_kmeans",
    "sim_kmeans_elbow", "sim_ivfpq_residual", "dedup_semantic_trained",
    // round 16: two-level IVF, auto-k salting, the three stateful file
    // twins, and the trained streaming-PQ encoder
    "sim_ivf2_topk", "pipe_skew_salted_auto", "stream_attribution_file",
    "stream_transitions_file", "stream_sessionize_dyn_file",
    "stream_pq_trained",
    // round 17: trained-coarse two-level IVF, the IVF2+PQ composition,
    // and IVF-candidate margin mining
    "sim_ivf2_trained", "sim_ivf2_pq", "sim_margin_ivf",
    // all-trained IVF2-PQ: both quantizers Lloyd-trained
    "sim_ivf2_pq_trained")

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionDefaults.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans (sf0.001, local[4])\n\n")
    sb.append("Generated by `graft.ExplainDump`; the properties these plans\n")
    sb.append("exhibit are frozen as assertions in `PlanAuditSpec`.\n\n")
    sb.append("Remaining root `Exchange rangepartitioning` nodes (r17 removed\n")
    sb.append("every presentation-only final sort; r18 removed the SQL-string\n")
    sb.append("ORDER BYs in rel_sql_api / rel_correlated / rel_not_exists /\n")
    sb.append("rel_grouping_sets): the sorts still present are OPERATOR\n")
    sb.append("semantics, each over a post-aggregation or bounded frame —\n")
    sb.append("- `o1_value_counts`, `feat_cut_bins`: pandas `value_counts()`\n")
    sb.append("  returns descending-count (value tie-break) order; the sort is\n")
    sb.append("  the operator's contract and runs AFTER the aggregate, over\n")
    sb.append("  #distinct-values rows — never corpus-scale.\n")
    sb.append("- `o4_groupby_nosort`: pandas `groupby(sort=False)` group order\n")
    sb.append("  = first appearance, materialized as `first_pos` AND as result\n")
    sb.append("  order (WindowGroupSpec pins it); sorts #groups rows post-agg.\n")
    sb.append("- `sample_shuffle`: the range-partitioned sort on\n")
    sb.append("  (hash(id), id) IS the declared deterministic permutation —\n")
    sb.append("  removing it removes the operator.\n")
    flagships.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("/root/repo/EXPLAINS.md"), sb.toString)
    println(s"wrote EXPLAINS.md (${flagships.size} plans)")
    spark.stop()
  }
}
