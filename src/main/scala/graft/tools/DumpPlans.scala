package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: regenerate PLANS.md — executed-plan evidence for the headline
  * queries (shuffle counts, join strategies, pushdown). */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = DevSession(cpus = 8, shufflePartitions = 8)
    val d = "/root/testdata/sf0.01"
    val names = Seq(
      "scan_pruned", "agg_pricing_summary", "join_broadcast", "sub_scalar",
      "join_lateral", "sub_exists",
      "join_salted", "win_range_frame", "text_tfidf", "dedup_minhash",
      "dedup_embedding_ann", "sim_ann_bucket", "sim_ann_ivf", "data_split",
      "join_theta_range", "dedup_clusters", "sim_cosine_topk_ann",
      "agg_hll_union", "dedup_incremental", "agg_cms_freq",
      "text_pack_sequences", "text_quality_ml", "sim_kmeans_cluster",
      "join_cbo_reorder", "text_bpe_tokencount", "sim_incremental_ann",
      "dedup_clusters_ann", "merge_upsert", "win_sessionize",
      "agg_kll_quantiles", "agg_argmax", "sql_cte_pipeline",
      "sim_pca_reduce", "win_funnel", "win_retention", "text_chunk",
      "ts_gapfill", "ts_interpolate", "agg_skew_kurt",
      "ts_ewma", "ts_anomaly", "ts_resample", "graph_triangles",
      "dq_audit", "join_asof_sorted", "win_streak", "agg_corr",
      "sim_label_centroids", "join_interval_overlap",
      "win_rolling_distinct", "join_overlap_self",
      "text_pii_scrub", "text_url_domains", "sample_rebalance",
      "text_vocab_topp", "agg_bitmap_distinct", "agg_ttest",
      "join_point_in_range", "agg_chisq", "fn_fuzzy_match",
      "win_rolling_distinct_bitmap", "scan_evolved", "text_quality_pctl",
      "graph_sssp", "merge_scd2", "win_transitions", "join_star_schema",
      "scan_partitioned", "ml_fpgrowth", "agg_gini", "dedup_paragraph",
      "merge_upsert_compact",
      "text_bm25_topk", "text_decontaminate_bloom", "sample_mixture",
      "scan_dpp", "agg_incremental", "merge_cdc", "dedup_substring",
      "sim_ann_pq", "pipeline_pretrain_corpus", "merge_retention",
      "join_asof_tolerance", "dq_skew", "scan_zorder",
      "scan_manifest_pruned", "agg_incremental_hll", "merge_history",
      "dedup_containment", "sample_token_budget", "merge_schema_evolve",
      "merge_delete_mor", "merge_change_feed", "scan_dictmap_pruned",
      "scan_bloom_pruned", "merge_repartition", "scan_skip_composed",
      "merge_zorder_compact", "merge_delete_where",
      "merge_update_mor", "merge_branch_wap", "merge_concurrent_disjoint",
      "pipeline_feed_stream", "sql_store_read", "merge_evolve_spec",
      "sql_timetravel", "sql_store_agg", "stream_table_read",
      "stream_table_write", "sql_update", "sql_merge")
    val sb = new StringBuilder
    sb ++= "# PLANS — executed-plan evidence for headline queries\n\n"
    sb ++= "Generated by `graft.tools.DumpPlans` at sf0.01 (plan shapes are\n"
    sb ++= "scale-invariant). For each query: shuffle count and the operator\n"
    sb ++= "lines that matter (joins, exchanges, scans with pushdown).\n"
    sb ++= "NOTE: an InMemoryTableScan prints its cached build plan inline,\n"
    sb ++= "so a persisted subplan's exchanges appear (and are counted) once\n"
    sb ++= "per reference even though they execute at most once.\n"
    for (name <- names) {
      val plan = graft.SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size +
        "Exchange rangepartitioning".r.findAllIn(plan).size
      sb ++= s"\n## $name — $shuffles shuffle(s)\n\n```\n"
      plan.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Join") ||
          l.contains("Scan parquet") || l.contains("Window") ||
          l.contains("Generate") || l.contains("HashAggregate") ||
          l.contains("TakeOrdered") || l.contains("InMemoryTableScan"))
        .map(_.replaceAll("#\\d+L?", "").replaceAll(", \\[plan_id=\\d+\\]", ""))
        .take(16).foreach(l => sb ++= (l.take(160) + "\n"))
      sb ++= "```\n"
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
