// Dump formatted physical plans for optimization evidence:
//   <dir>/<query>_<suffix>.txt
// Usage: tools/dump_plan_set.sh <dir> <suffix> <sf_dir>   (after sbt compile)
// Batch queries only -- the s-gates' cost is drain machinery, not a single
// physical plan; their evidence lives in the OPTIMIZATION_r17/r18.md
// progress-log decompositions instead.
import java.nio.file.{Files, Paths}

val outDir = sys.env("GRAFT_PLAN_DIR")
val suffix = sys.env("GRAFT_PLAN_SUFFIX")
val sfDir = sys.env("GRAFT_PLAN_SF")
val names = Seq(
  "q01_pricing_summary", "q03_top_revenue_orders", "q05_region_star_join",
  "q07_window_topk_per_group", "q12_bag_difference", "q25_left_outer_join",
  "q36_grouping_sets", "q39_pivot", "q40_recursive_cte", "q42_lateral_topn",
  "q45_salted_skew_join", "q46_ordered_set_aggs", "q38_udtf_flatmap",
  "e01_tumbling_window", "e04_sessionization", "e05_asof_join",
  "e07_session_window", "e08_cohort_retention", "e09_funnel",
  "e11_anomaly_zscores",
  "t02_token_stats", "t07_ngram_jaccard_dedup", "t08_minhash_lsh_dedup",
  "t09_simhash_dedup", "t12_dedup_clusters", "t14_tfidf_topk",
  "t18_sequence_packing", "t19_stratified_sample", "t20_corpus_shuffle",
  "t21_chunking", "t22_block_dedup", "t23_mixture_sample",
  "t25_curation_pipeline", "t26_lm_perplexity_filter",
  "t27_incremental_dedup", "t28_staged_incremental_dedup",
  "t30_heavy_hitters", "t31_bloom_decontamination", "t32_cdc_dedup",
  "t33_ppjoin_dedup", "t34_dsir_selection", "t35_incremental_cdc_dedup",
  "t36_bm25_retrieval", "t37_staged_bm25_retrieval",
  "t38_incremental_bm25_index", "t39_bpe_tokenize", "t40_quality_classifier",
  "t29_mp4_demux", "t41_frame_luma", "t42_compacted_bm25_index",
  "t43_compacted_cdc_store",
  "v02_cosine_topk", "v04_ann_lsh_topk", "v06_ivf_topk", "v07_int8_quantize",
  "v08_twostage_topk", "v09_quantized_topk", "v10_quantized_prefix_topk",
  "v11_ivf_quantized_topk", "v12_semantic_dedup",
  "v13_incremental_semantic_dedup", "v15_pq_topk", "v16_pq_stored_topk",
  "v17_ivf_pq_topk", "v18_pq_trained_topk", "v19_staged_ivfpq_topk",
  "v20_hybrid_rrf_topk", "v21_compacted_ivf_layout",
  "g01_two_hop_traversal", "g05_connected_components", "g06_pagerank_topk",
  "g09_triangle_count", "g10_weighted_sssp", "g12_bucketed_traversal")
Files.createDirectories(Paths.get(outDir))
for (n <- names) {
  try {
    val df = graft.SparkEntry.queries(n)(spark, sfDir)
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
    println(s"[res] wrote $n ($suffix): ${txt.length} chars")
  } catch {
    case e: Throwable =>
      println(s"[res] FAILED $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }
}
println("[res] done")
System.exit(0)
