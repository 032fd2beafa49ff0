package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Formatted physical plans of gates — the plan-review artifact (pushdown,
  * pruning, join strategies, codegen spans).
  *  - `runMain graft.tools.ExplainDump [sfDir]` regenerates docs/PLANS.md
  *    from the headline gates below (sfDir defaults to sf0.001);
  *  - `runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <gate[,gate…]>`
  *    writes `<outDir>/<gate>_<suffix>.txt` per named gate (before/after
  *    plan artifacts of an optimization round). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // a fixed local[8]: the dumped plans print partition counts, so they
    // must not change with the machine that regenerates them
    val spark = GraftSession(cpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    def explain(name: String): String = SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

    val picks = Seq(
      "q_agg_pricing", "q_join_broadcast", "q_join_multi", "q_window_rank",
      "q_source_scan", "q_source_pushdown", "q_source_partition_seek",
      "q_dedup_ngram", "q_dedup_minhash",
      "q_ann_bruteforce", "q_asof_join", "q_range_join",
      "q_join_salted", "q_agg_cube", "q_sample_split", "q_text_vocab",
      "q_numeric_profile", "q_events_session_window",
      "q_corpus_cap", "q_corpus_decontaminate", "q_text_repetition",
      "q_text_tfidf", "q_text_lm_score", "q_corpus_shuffle", "q_pipeline_e2e",
      "q_text_redact", "q_corpus_dup_spans", "q_knn_join", "q_knn_join_lsh",
      "q_source_offset_seek", "q_ann_recall", "q_sketch_distinct",
      "q_dedup_semantic", "q_dedup_normalized", "q_dedup_incremental",
      "q_dedup_paragraphs", "q_quality_gopher", "q_corpus_diff",
      "q_corpus_decontaminate_neardup", "q_corpus_cap_tokens", "q_text_chunks",
      "q_dedup_scrub", "q_corpus_mix_budget", "q_corpus_report",
      "q_corpus_mix_epochs", "q_text_lm_bigram", "q_quality_features",
      "q_corpus_contamination", "q_corpus_coverage", "q_text_ppl_buckets",
      "q_corpus_importance", "q_corpus_select_quantile", "q_embed_diversity",
      "q_text_encoding", "q_corpus_vocab_drift", "q_source_count_groups",
      "q_quality_classifier", "q_dedup_incremental_neardup",
      "q_dedup_paragraphs_doc", "q_text_nfc", "q_corpus_split_safe",
      "q_corpus_diversity", "q_pipeline_curation", "q_corpus_pack",
      "q_text_bm25", "q_corpus_overlap", "q_events_sessions",
      "q_text_bm25_multi", "q_corpus_overlap_sketch", "q_numeric_profile_sketch",
      "q_corpus_pack_rows", "q_corpus_overlap_append", "q_text_bm25_persisted",
      "q_corpus_pack_texts", "q_corpus_constraints", "q_corpus_unique",
      "q_corpus_referential", "q_fuzzy_pairs", "q_fuzzy_link",
      "q_numeric_drift", "q_embed_drift", "q_categorical_drift",
      "q_group_drift", "q_fuzzy_persisted", "q_multimodal_dedup",
      "q_multimodal_dedup_incremental", "q_corpus_pack_bestfit",
      "q_group_cat_drift")
    args.drop(1) match {
      case Array(outDir, suffix, gates) =>
        Files.createDirectories(Paths.get(outDir))
        for (name <- gates.split(',')) {
          val out = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.writeString(out, explain(name))
          println(s"dumped $name -> $out")
        }
      case Array() =>
        val sb = new StringBuilder
        sb.append("# PLANS — formatted physical plans of headline queries\n\n")
        val arg = if (args.isEmpty) "" else s" $dir"
        sb.append(s"Generated by `sbt \"runMain graft.tools.ExplainDump$arg\"` at " +
          s"${Paths.get(dir).getFileName}.\n")
        sb.append("Reviewed-for: pushdown reaching scans (PushedFilters / narrowed\n")
        sb.append("ranges), column pruning (ReadSchema), broadcast joins on dims,\n")
        sb.append("whole-stage codegen spans (`*(n)` prefixes), AQE nodes.\n\n")
        for (name <- picks) {
          sb.append(s"## $name\n\n```\n")
          sb.append(explain(name).trim)
          sb.append("\n```\n\n")
        }
        Files.createDirectories(Paths.get("docs"))
        Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
        println(s"wrote docs/PLANS.md (${picks.size} plans)")
      case _ =>
        System.err.println(
          "usage: ExplainDump [sfDir] | ExplainDump <sfDir> <outDir> <suffix> <gate[,gate…]>")
    }
    spark.stop()
  }
}
