package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Writes the formatted physical plan of gate queries to one markdown file,
  * one `## <name>` section per query: the scan-pushdown / join-strategy /
  * codegen evidence reviewed per round (PLANS.md), and the before/after
  * plans of an optimization (plans/<round>/).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outFile> [prefix,…]
  * Without prefixes it dumps the headline list below; with them, every
  * gate query [[Harness.select]] keeps (the SPARK_GRAFT_ONLY convention). */
object PlanDump {

  /** The queries of PLANS.md. */
  private val headline = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders",
    "q05_events_between", "q17_ngram_jaccard_pairs", "q18_minhash_lsh_pairs",
    "q20_embed_topk", "q32_dup_clusters", "q34_asof_join", "q35_interval_join",
    "q36_embed_neardup", "q37_skew_join", "q43_bm25", "q46_pq_adc",
    "q47_bloom_join", "q48_scd2", "q51_tfidf", "q52_decontaminate",
    "q56_packing", "q57_equidepth_bins", "q59_chunk_tokens",
    "q61_substring_dup", "q63_outliers", "q64_vocabulary",
    "q67_semdedup", "q68_histogram", "q70_fuzzy_dups",
    "q71_rolling_z", "q73_unigram_surprisal", "q74_pagerank",
    "q81_curation_report", "q82_correlations", "q85_strip_boilerplate",
    "q89_url_canonicalize", "q90_paragraph_dedup", "q91_embed_decontaminate",
    "q92_corpus_overlap", "q93_shard_manifest",
    "q94_paragraph_dup_ratio", "q95_bigram_surprisal", "q96_code_signals",
    "q97_canonical_docs", "q98_calibrated_quality", "q99_cdc_chunks",
    "q100_chunk_version_diff", "q101_count_min", "q102_bpe_learn",
    "q103_incremental_dedup", "q104_media_phash", "q105_quality_classifier",
    "q106_hard_negatives", "q107_shuffle_shard", "q108_source_scores",
    "q109_budget_select", "q110_heavy_hitters", "q111_winnow_fingerprints",
    "q114_shingle_novelty", "q116_approx_quantiles", "q118_topk_per_key",
    "q119_value_trend", "q120_pca_top_component", "q121_entity_resolution",
    "q123_containment_pairs", "q124_native_asof_join",
    "q125_native_interval_join", "q126_dsir_weights", "q127_kmv_distinct",
    "q128_kmv_overlap", "q129_native_asof_forward", "q130_length_batches",
    "q131_cm_join_size", "q132_filter_ablation", "q133_leakage_safe_split",
    "q134_persisted_ann", "q135_persisted_ivfpq", "q136_ivfpq_rerank",
    "q137_broadcast_asof", "q138_zorder", "q140_curation_pipeline",
    "q141_salted_asof", "q142_salted_interval", "q143_late_interaction",
    "q144_hybrid_rrf", "q145_ndcg", "q146_precision_recall",
    "q147_fuzzy_dups_bounded", "q148_gumbel_sample", "q149_locf_resample",
    "q150_real_image_phash", "q151_audio_profile", "q152_gif_frame_sample",
    "q153_compressed_ingest", "q154_warc_ingest", "q155_crawl_pipeline",
    "q156_margin_mine", "q157_bm25_retrieval", "q158_margin_mine_celled",
    "q159_sparse_index_retrieval", "q160_mixture_upsample")

  /** `s` with every control character other than `\n` and `\t` written as
    * its `\uXXXX` escape: the NUL-sentinel literals of hash expressions
    * would otherwise make the file binary to git and to readers. */
  def escapeControl(s: String): String =
    s.flatMap(c => if (c < ' ' && c != '\n' && c != '\t') f"\\u${c.toInt}%04x" else c.toString)

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: PlanDump <sfDir> <outFile> [prefix,…]")
    val (sfDir, outFile) = (args(0), args(1))
    val prefixes = args.lift(2)
    val names = prefixes.fold(headline)(p => Harness.select(SparkEntry.queries.keys, Some(p), None))
    // fixed 8 cores: the plan text (partition counts) must not depend on the machine
    val spark = Harness.session(8)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of " +
      prefixes.fold("the headline queries")(p => s"the queries matching `$p`") + "\n\n")
    sb.append(s"Generated by `graft.PlanDump` at ${Paths.get(sfDir).getFileName}. What to look for:\n")
    sb.append("`PushedFilters` on scans, `ReadSchema` pruned to used columns,\n")
    sb.append("`BroadcastHashJoin` for dims, no `CartesianProduct`, wide\n")
    sb.append("`WholeStageCodegen` spans. PlanSpec asserts these properties in CI.\n\n")
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      sb.append(s"## $name\n\n```\n${escapeControl(plan.take(8000))}\n```\n\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plandump] wrote ${names.size} plans to $outFile")
    spark.stop()
  }
}
