package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.util.Sessions

/** Formatted `explain` of graft queries under the shared engine config
  * (`Sessions.test`: the bench's config on four cores, so the output does
  * not depend on the machine), at sf0.001 unless `SPARK_GRAFT_SF_DIR` says
  * otherwise. Plan shape (exchanges, join strategies, pushdown) does not
  * change with scale for these queries; the bench carries the timings.
  *
  *   sbt "runMain graft.tools.PlanDump"
  *     writes `PLANS.md`, the headline queries' plans, so plan-level claims
  *     are auditable without running anything;
  *   sbt "runMain graft.tools.PlanDump <tag> <suffix> <query...>"
  *     writes `plans/<tag>/<query>_<suffix>.txt`, before/after evidence
  *     for a plan-changing optimisation.
  *
  * Output is anchored at the repo root (the nearest ancestor of the cwd
  * holding build.sbt). Building a query frame runs the operators' internal
  * materializations, so each query executes once at the chosen scale.
  */
object PlanDump {

  private val headline = Seq(
    "q01_agg_pricing", "q03_join3_topk", "q06_broadcast_join",
    "q27_range_join", "q28_asof_last_view", "q29_salted_join",
    "q30_dedup_exact", "q34_ngram_jaccard", "q35_minhash_lsh",
    "q36_simhash", "q37_sim_topk", "q39_embedding_neardup",
    "q40_lsh_jaccard_verified", "q43_ivf_search", "q44_rp_lsh_neardup",
    "q45_dedup_clusters",
    "q46_group_percentiles", "q47_stratified_sample", "q48_tfidf",
    "q49_minhash_estimate", "q57_pack_sequences", "q59_vocab_coverage",
    "q61_pq_codes", "q67_decontam_flags", "q69_unigram_surprisal",
    "q70_ivfpq_topk", "q71_window_dedup", "q72_kmeans_refine",
    "q73_dedup_disposition", "q74_bloom_decontam", "q75_boilerplate_frac",
    "q76_top_windows", "q77_gopher_rules", "q78_surprisal_split",
    "q79_decontam_frac", "q80_span_dedup", "q81_hash_quality",
    "q82_dsir_weights", "q83_token_budget", "q84_sq8_codes",
    "q85_epoch_assign", "q86_semdedup", "q87_asset_dedup",
    "q88_bigram_surprisal", "q89_char_entropy", "q90_source_overlap",
    "q91_bpe_tokens", "q92_winnow_fingerprint", "q93_containment",
    "q94_source_report", "q95_containment_verified",
    "q96_bpe_real_tokens", "q97_train_quality", "q98_image_decode",
    "q99_audio_decode", "q100_mix_weights", "q101_normalize_text",
    "q102_auc_eval", "q103_stratum_topk", "q104_bpe_learn",
    "q105_image_neardup", "q106_audio_neardup", "q107_frame_sample",
    "q108_trigram_backoff", "q109_lsh_plan", "q110_source_divergence",
    "q111_lsh_recall", "q112_delta_dedup", "q113_pipeline_waterfall",
    "q114_train_order", "q115_decontam_scrub", "q116_span_quality_prune",
    "q117_leakfree_split", "q118_repetition_scrub", "q119_semantic_decontam",
    "q120_tokenizer_fit", "q121_ingest_plan", "q122_ivfpq_saved_search",
    "q123_prototype_select", "q124_prototype_topk", "q125_media_waterfall",
    "q126_ivfpq_append_search", "q127_ivfpq_staleness_audit",
    "q128_multimodal_verdict", "q129_ann_recall_audit",
    "q130_cluster_weights", "q131_calibration_bins", "q132_dedup_impact",
    "q133_ivfpq_rebuild_search", "q134_keeper_consistency",
    "q135_index_neardup_batch", "q136_soft_dedup_sample",
    "q137_hard_negatives", "q138_snapshot_diff", "q139_embedding_health",
    "q140_vector_health", "q141_embedding_drift", "q142_retrieval_quality",
    "q143_manifest_delta_dedup", "q144_bm25_topk",
    "q145_ivfpq_refined_search")

  /** Nearest ancestor (cwd included) containing build.sbt, else the cwd. */
  private def repoRoot: Path = {
    val cwd = Paths.get("").toAbsolutePath
    Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(p => Files.exists(p.resolve("build.sbt"))).getOrElse(cwd)
  }

  private def header(sf: String) =
    s"""# Headline query plans (formatted explain, $sf, local[4])
      |
      |Generated by `sbt "runMain graft.tools.PlanDump"` under the shared engine
      |config (`graft.util.Sessions`, the bench's join planner) — regenerate
      |after plan-affecting changes. Things to check: parquet scans show
      |PushedFilters + pruned ReadSchema; small sides broadcast;
      |WholeStageCodegen spans cover the hot projections (the native
      |graft_* expressions participate); the only exchanges are the keyed
      |shuffles each operator's scaladoc declares. These are the static
      |plans: a shuffled join is a ShuffledHashJoin here where the planner
      |sees one side three times smaller than the other, and AQE turns a
      |SortMergeJoin into one at run time when every map-output partition
      |of its build side fits the 64m local-map threshold.
      |BroadcastNestedLoopJoin appears ONLY with a
      |deliberately tiny broadcast build side — q27's range join, q37's
      |3-row query set, q43/q123's k×dim centroid table, q48's scalar N,
      |q108's 1-row (N, V) model scalars, q110's source-pair dim, q111's
      |1-row candidate count, q122's saved centroid/codebook tables against
      |the 3-row query side — the intended plan for non-equi/cross joins
      |against small data; the outlawed shape (corpus-sized BNLJ or
      |CartesianProduct in the pair pipelines) is pinned absent by
      |PairPlanSpec and GraphOpsSpec.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3,
      "usage: PlanDump | PlanDump <tag> <suffix> <query...>")
    val spark = Sessions.start(Sessions.test, "graft-plandump")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def explain(q: String): String = {
      val df = graft.SparkEntry.queries(q)(spark, d)
      val plan = df.queryExecution.explainString(FormattedMode)
      df.unpersist(blocking = false)
      spark.catalog.clearCache()
      plan
    }
    def write(p: Path, text: String): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $p")
    }
    if (args.isEmpty)
      write(repoRoot.resolve("PLANS.md"), header(Paths.get(d).getFileName.toString) +
        headline.map(q => s"\n## $q\n\n```\n${explain(q)}```\n").mkString)
    else {
      val (tag, suffix) = (args(0), args(1))
      for (q <- args.drop(2))
        write(repoRoot.resolve(s"plans/$tag/${q}_$suffix.txt"), explain(q))
    }
    spark.stop()
  }
}
