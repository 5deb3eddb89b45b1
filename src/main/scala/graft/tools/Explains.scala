package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans for the load-bearing queries into
  * EXPLAINS.md — the plan-shape audit trail behind SCALE.md's claims.
  *
  * Each query is EXECUTED before its plan is printed, so the dump shows
  * the AQE *final* plan (`isFinalPlan=true`) — runtime-coalesced
  * partitions, demoted/promoted broadcasts, skew splits — not the static
  * guess AQE starts from.
  * Usage: runMain graft.tools.Explains <sfDir>
  */
object Explains {
  val Audited = Seq(
    "catalog_ledger_diff", "orphan_anti_join", "ledger_latest_wins",
    "ledger_upsert", "q1_agg", "q3_topk", "dedup_near_minhash",
    "similarity_topk", "events_sessionize", "events_asof_join_native",
    "pipeline_clean_corpus", "tfidf_top_terms", "catalog_snapshot_diff",
    "catalog_scan_incremental", "decontaminate", "events_funnel",
    "corpus_pack_sequences", "similarity_topk_lsh_banded",
    "similarity_topk_ivf", "dedup_near_cosine", "dedup_ngram_jaccard",
    "events_skew_join", "events_retention", "embedding_kmeans",
    "catalog_compaction_plan", "catalog_compaction_apply",
    "repetition_signals", "sample_temperature",
    "decontaminate_fraction", "dedup_clusters_cosine",
    "dedup_near_minhash_scored", "dedup_incremental",
    "events_top_percent", "corpus_mix_report",
    "dup_span_fraction", "rarity_score", "sample_token_budget",
    "events_dedup_window", "events_key_skew", "dedup_drop_list",
    "embedding_outliers", "q10_returned_items", "events_range_join",
    "dedup_savings", "quality_length_floor", "dedup_cross_source",
    "dedup_near_minhash_para", "decontaminate_exact", "domain_blocklist",
    "dedup_exact_spans", "ngram_lm_counts", "dedup_span_trim",
    "corpus_split", "vocab_growth", "length_quantiles",
    "dedup_degree_hist", "events_gap_hist", "q6_forecast_revenue",
    "q14_promo_revenue", "q13_custdist", "q4_order_priority",
    "multimodal_frame_dedup", "multimodal_frame_near_dedup",
    "q12_priority_by_flag", "q19_disjunctive_revenue",
    "q22_idle_customers",
    "boilerplate_chunks", "boilerplate_scrub", "doc_lm_score",
    "decontaminate_bloom", "q2_min_cost_supplier", "q7_nation_volume",
    "q8_market_share", "q9_product_profit", "q11_important_parts",
    "q15_top_supplier", "q16_part_supplier_counts",
    "q17_small_quantity_revenue", "q20_excess_shippers",
    "q21_waiting_suppliers", "similarity_topk_ivf_auto",
    "s3_head_enrichment", "events_top_percent_hist",
    "similarity_topk_int8", "vocab_zipf_slope", "events_anomaly_mad",
    "dedup_semantic_keep_best", "similarity_topk_pq",
    "events_anomaly_mad_hist", "similarity_topk_ivfpq",
    "embedding_dim_stats", "pipeline_clean_corpus_semantic",
    "catalog_scan_distributed", "quality_percentile_gate",
    "embedding_gram", "events_zorder_layout", "token_fertility",
    "embedding_drift", "events_zorder_layout_rank",
    "quality_gate_drop_list", "decontaminate_semantic",
    "decontaminate_semantic_banded", "sample_importance",
    "dedup_winnowed", "dedup_winnowed_drop_list",
    "sample_importance_select", "multimodal_caption_match",
    "dedup_winnowed_savings", "corpus_split_leakage",
    "multimodal_caption_drop_list", "multimodal_caption_savings",
    "similarity_topk_crossmodal", "corpus_split_quarantine",
    "multimodal_caption_review_queue", "decontaminate_winnowed",
    "quality_classifier", "similarity_topk_ivfpq_auto",
    "pipeline_prepare_release", "pipeline_release_report",
    "corpus_mix_solve", "decontaminate_report", "sample_mix_apply")

  /** Barriered pipelines whose committed plan shows only the post-barrier
    * tail (Scan ExistingRDD): their stage plans are recorded at
    * materialize time (Barriers.armPlanRecorder) and dumped alongside, so
    * claims like "the embeddings scan joins only the text-stage
    * survivors" are visible in EXPLAINS.md (r18 verdict item 6).
    */
  val BarrierAudited = Set(
    "pipeline_prepare_release", "pipeline_clean_corpus_semantic",
    "pipeline_release_report")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans (generated by ")
    sb.append("`graft.tools.Explains`)\n\n")
    sb.append("Audit trail for SCALE.md: pushdown (`PushedFilters`), column ")
    sb.append("pruning (`ReadSchema`), join strategy, codegen spans.\n")
    sb.append(s"Plans are AQE FINAL plans (queries executed on `$sfDir` ")
    sb.append(s"at `${spark.sparkContext.master}` before printing).\n")
    Audited.foreach { name =>
      val record = BarrierAudited(name)
      if (record) graft.operators.Barriers.armPlanRecorder()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect() runs THIS QueryExecution (a noop write would wrap the
      // plan in a new one), finalizing the AdaptiveSparkPlan in place
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      if (record) {
        // stage plans recorded at materialize time, in execution order —
        // by now each barrier's action ran, so AQE plans are final
        graft.operators.Barriers.drainPlanRecorder().zipWithIndex.foreach {
          case (qe, i) =>
            val p = qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            sb.append(s"\n### $name — barrier input ${i + 1}\n\n```\n$p```\n")
        }
      }
    }
    Files.writeString(Paths.get("EXPLAINS.md"), sb.toString)
    println(s"[explains] wrote EXPLAINS.md (${Audited.size} plans)")
    spark.stop()
  }
}
