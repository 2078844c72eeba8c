package graft

import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import java.nio.file.{Files, Paths}

/** Dev aid: plan evidence from the harness session ([[Harness.session]]).
  *
  *   runMain graft.PlanDump [dir] [query names...]
  *     prints each physical plan to stdout (the PLANS.md evidence file)
  *   runMain graft.PlanDump --snap <tag> <suffix> [dir] [query names...]
  *     writes `explain("formatted")` to plans/<tag>/<query>_<suffix>.txt —
  *     the before/after plan evidence of an optimization
  *
  * Names default to the representative set; the data dir defaults to
  * sf0.001 (plan SHAPE is scale-independent here: the same code path
  * builds the frame at every SF) and an absolute-path first arg overrides
  * it, e.g. to diff plans against the VolumeBench 10x corpus. A query that
  * fails to plan yields `ERROR: <message>` in place of its plan. */
object PlanDump {
  private val defaults = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "pa61_cast_normalize",
    "q56_asof_join", "d27_ngram_jaccard", "d31_embedding_neardup",
    "s32_knn_bruteforce", "s33_ann_lsh", "x90_corpus_pipeline",
    "x91_source_mix", "d33_embedding_neardup_lsh", "x93_kmeans_step",
    "q60_correlated_subquery", "q07_lag_lead", "x94_token_budget_mix",
    "q26_salted_join", "x96_semdedup", "q63_partition_pruned_scan",
    "x98_cluster_reps", "q64_bucketed_join", "t32_chunk_overlap",
    "q65_range_join", "x99_global_index", "t33_sequence_pack",
    "q66_runtime_filter", "q67_range_layout", "d35_components_star",
    "q68_zorder_layout", "t34_surprisal", "d36_duplicate_spans",
    "d37_incremental_dedup", "q69_interval_join", "q70_funnel",
    "s38_pq_knn", "x100_incremental_agg", "q71_sliding_windows",
    "q72_upsert_merge", "t35_bigram_surprisal", "m44_media_neardup",
    "x101_split_leakage", "d38_editdist_dedup", "s39_filtered_ann",
    "x102_temperature_mix", "q73_windowed_dedup", "t36_ngram_novelty",
    "q74_stat_moments", "s40_knn_graph", "m45_audio_frames",
    "x103_cluster_split", "x104_shard_manifest", "q75_multiset_ops",
    "q76_share_of_total", "d39_best_keeper", "q77_asof_tolerance",
    "x105_manifest_diff", "q78_cohort_retention", "q79_gap_detection",
    "q80_scd2_history", "q81_winsorized_agg", "t37_bm25",
    "q82_asof_nearest", "x107_graph_pagerank", "x106_curriculum_order",
    "x108_dataset_card", "t38_vocab_oov", "t39_source_overlap",
    "q83_mad_outliers", "s41_ivf_stats", "t41_cms_sketch",
    "d40_containment", "q84_zscore_normalize", "m46_media_components", "q85_equidepth_hist", "m47_scene_cuts",
    "q86_period_over_period", "t42_lang_confusion", "d41_minhash_calibration",
    "s42_vector_audit", "x110_profile_drift", "q87_topk_with_ties", "q88_ri_audit",
    "q89_session_window", "t43_bpe_merges", "t44_bpe_encode", "s43_ivfpq_knn",
    "x109_epoch_plan", "q90_csv_roundtrip", "q91_json_roundtrip", "q92_recursive_chain", "q93_orc_roundtrip", "q94_variant_extract", "q95_lateral_topk", "x111_ablation_profile", "x112_pipeline_funnel", "t45_normalize", "d43_lsh_planner", "s44_hybrid_retrieval", "t46_gopher_rules", "x113_kill_matrix", "x114_churn_audit", "d45_fingerprint_audit", "m48_chunk_manifest", "q96_null_semantics", "x115_curriculum_shards", "d46_prefix_join", "q97_temporal_semantics", "q98_string_semantics",
    "q31_tpch01", "q32_tpch02", "q33_tpch03", "q34_tpch04", "q35_tpch05",
    "q36_tpch06", "q37_tpch07", "q38_tpch08", "q39_tpch09", "q40_tpch10",
    "q41_tpch11", "q42_tpch12", "q43_tpch13", "q44_tpch14", "q45_tpch15",
    "q46_tpch16", "q47_tpch17", "q48_tpch18", "q49_tpch19", "q50_tpch20",
    "q50b_tpch21", "q50c_tpch22", "x116_shard_export", "pa64_permissive_scan",
    "pa65_parquet_field_id", "x117_incremental_export", "s45_ivf_rebalance",
    "s46_rebalance_recall", "m49_media_components_scalable",
    "x118_label_communities", "x119_community_sample", "s47_persisted_ivf",
    "s48_probe_sweep", "x120_priority_sample", "x121_quantile_norm",
    "x122_dup_weights", "x123_contrastive_pairs", "x124_sampling_manifest",
    "x125_quantile_map", "x127_graph_triangles", "d47_line_dedup",
    "x126_incremental_manifest", "x128_contamination_spans",
    "x129_dsir_weights", "x130_community_cohesion",
    "x131_decontaminated_rewrite", "x132_source_priority_sample",
    "s49_graph_recall_audit", "m50_media_best_keeper", "x133_dsir_selection")

  def main(args: Array[String]): Unit = args.toSeq match {
    case "--snap" +: tag +: suffix +: rest => dump(Some((tag, suffix)), rest)
    case "--snap" +: _ =>
      throw new IllegalArgumentException(
        "usage: PlanDump --snap <tag> <suffix> [dir] [query names...]")
    case rest => dump(None, rest)
  }

  /** Prints the plans, or with `snap = Some((tag, suffix))` writes them. */
  private def dump(snap: Option[(String, String)], args: Seq[String]): Unit = {
    val (dir, rest) = args.headOption.filter(_.startsWith("/"))
      .map(d => (d, args.tail.toSeq)).getOrElse(("/root/testdata/sf0.001", args.toSeq))
    val names = if (rest.nonEmpty) rest else defaults
    val spark = Harness.session()
    snap.foreach { case (tag, _) => Files.createDirectories(Paths.get(s"plans/$tag")) }
    for (n <- names) {
      val plan =
        try SparkEntry.queries(n)(spark, dir).queryExecution
          .explainString(if (snap.isEmpty) SimpleMode else FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      snap match {
        case None =>
          println(s"===== $n")
          println(plan)
        case Some((tag, suffix)) =>
          val path = s"plans/$tag/${n}_$suffix.txt"
          Files.writeString(Paths.get(path), plan)
          println(s"[plandump] wrote $path (${plan.length} chars)")
      }
    }
    spark.stop()
  }
}
