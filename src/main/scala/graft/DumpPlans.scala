package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: `explain("formatted")` output for the headline
  * queries — the plan-shape evidence (pushdown, broadcast vs shuffle,
  * partial aggregation, codegen spans) reviewed each round.
  * Run: `sbt "runMain graft.DumpPlans"` (regenerates the committed file).
  *
  * With SPARK_GRAFT_ONLY set it writes per-query plan evidence for the
  * optimization rounds instead: `plans/<round>/<key>_<tag>.txt` for
  * each listed key.
  * Run: SPARK_GRAFT_ONLY=k1,k2 SPARK_GRAFT_TAG=before \
  *   SPARK_GRAFT_ROUND=r14 sbt "runMain graft.DumpPlans"
  */
object DumpPlans {

  private val headline = Seq(
    "tpch_q1", "tpch_q5", "tpch_q17", "tpch_q21", "join_broadcast",
    "window_ntile", "dedup_minhash", "knn_brute", "stream_window",
    "asof_join", "pipeline_e2e", "multi_file_scan",
    "tfidf_top", "seq_pack", "data_split", "ipc_dsv2",
    "bm25_rank", "contamination", "vocab_oov", "quantize_int8",
    "stratified_sample", "pii_redact", "quality_repetition",
    "profile_table", "histogram", "deletion_propagate", "merge_upsert",
    "topk_group", "dedup_incremental", "resample_ffill", "mix_temperature",
    "quality_cap", "unpivot", "doc_chunk", "weighted_sample",
    "dedup_bloom", "heavy_hitters", "zorder_cluster", "flight_roundtrip",
    "interval_arith", "half_float", "union_type", "hash_funcs", "ts_arith",
    "json_extract", "funnel", "retention_cohort", "ngram_lm", "embed_norm",
    "boilerplate", "length_filter", "cross_join", "sql_exists",
    "window_percent", "sequence_gen", "session_window", "join_sortmerge",
    "string_funcs3", "date_funcs2", "json_sink", "approx_quantile",
    "dedup_containment", "scd2_intervals", "hopping_window", "k_anonymity",
    "grouping_id", "sql_lateral", "agg_stats2", "window_value",
    "sql_pipe", "sql_recursive", "sql_udf", "sql_scalar_corr",
    "variant_json", "knn_pq", "hll_sketch", "sample_group",
    "stream_join_outer", "window_range", "join_nullsafe",
    "set_ops_all", "listagg", "ipc_skip", "ipc_minmax",
    "bucket_join", "text_normalize", "dedup_semantic", "budget_select",
    "avro_roundtrip", "dedup_paragraph", "quality_classify", "mv_refresh",
    "time_travel", "log_delete", "knn_ivf_exact", "dedup_semantic_keep",
    "log_merge2", "knn_ivf_persisted",
    "tensor_funcs", "sparse_tensor", "dict_encode",
    "global_row_ids", "corpus_shuffle", "embed_project", "join_shufflehash",
    "winsorize", "dedup_minhash_incr", "stream_enrich", "log_optimize",
    "media_dedup", "media_neardup", "log_schema_evolve", "stream_join_full",
    "knn_ivf", "log_cdf", "log_constraints", "knn_binary", "log_dv",
    "log_clone", "interval_join", "csv_malformed", "log_bloom",
    "knn_range", "stream_join_semi", "pagerank", "bpe_train", "bpe_encode",
    "l_diversity", "log_stream", "log_stream_cdf", "text_search", "ewma",
    "log_merge3", "log_rename", "xml_roundtrip", "dedup_substring",
    "log_partitioned", "stream_dedup", "simjoin_topk", "cdc_chunk",
    "kmv_distinct", "cms_freq", "char_diversity", "t_closeness",
    "triangle_count", "skew_join", "robust_outliers", "stream_topk",
    "hybrid_search", "take_gather", "ipc_nested", "ipc_dict",
    "drift_detect", "search_mmr", "stream_join_right",
    "community_lpa", "join_size_est", "hybrid_indexed", "table_diff",
    "split_leakage_guard", "stream_drift", "embed_pool",
    "negative_sample",
    "dedup_url", "record_linkage", "pmi_cooccur", "dp_counts",
    "embed_whiten", "stream_anomaly", "markov_transitions", "lsh_tune",
    "log_widen",
    "dsir_select", "ipc_types",
    "ipc_compressed", "kmeans_cluster", "novelty_ngrams", "log_vacuum",
    "quality_gopher", "stream_csv", "stream_json", "log_checkpoint",
    "sql_qualify", "sql_distinct_on", "psi_drift",
    "sql_order_by_all", "ks_drift", "sql_select_exclude", "asof_nearest",
    "sql_select_replace", "sql_pivot", "sql_unpivot", "sql_limit_ties",
    "sql_named_window", "sql_values", "sql_asof_join",
    "tensor_ipc", "sparse_tensor_ipc", "ipc_dict_delta", "ipc_dict_dsv2")

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    stable(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

  private val ExprId = "#(\\d+)".r
  private val Masks = Seq(
    "plan_id=\\d+".r -> "plan_id=*",
    "graft_egress/p\\d+".r -> "graft_egress/p<pid>",
    "\\$\\$Lambda[$/\\w]*@[0-9a-f]+".r -> "$$Lambda",
    "(?<=[\\w$])@[0-9a-f]+\\b".r -> "@<hash>",
    "RDD\\[\\d+\\]".r -> "RDD[<id>]",
    "Broadcast\\(\\d+\\)".r -> "Broadcast(<id>)",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r -> "<uuid>")

  /** `plan` with everything that differs between two runs of one plan
    * taken out: expression ids renumbered in order of first appearance
    * (`#1`, `#2`, …), exchange `plan_id`s, the egress dir's pid, lambda
    * class names, object hashes (`Class@5ed8b130`), RDD and broadcast
    * ids (`RDD[957]`, `Broadcast(617)`) and UUIDs masked —
    * so a regenerated PLANS.md differs only where a plan changed shape. */
  private def stable(plan: String): String = {
    val ids = scala.collection.mutable.Map.empty[String, Int]
    Masks.foldLeft(ExprId.replaceAllIn(plan,
      m => "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))) {
      case (txt, (re, mask)) => re.replaceAllIn(txt,
        scala.util.matching.Regex.quoteReplacement(mask))
    }
  }

  def main(args: Array[String]): Unit = {
    SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")) match {
      case Some(keys) => perKey(keys)
      case None => plansMd()
    }
  }

  private def perKey(keys: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val tag = sys.env.getOrElse("SPARK_GRAFT_TAG", "before")
    val round = sys.env.getOrElse("SPARK_GRAFT_ROUND", "r14")
    val spark = Engine.session("8", "8")
    Files.createDirectories(Paths.get(s"plans/$round"))
    for (k <- keys) {
      val txt = formatted(SparkEntry.queries(k)(spark, sfDir))
      Files.writeString(Paths.get(s"plans/$round/${k}_$tag.txt"), txt)
      println(s"[plandump] wrote plans/$round/${k}_$tag.txt")
    }
    spark.stop()
  }

  private def plansMd(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Engine.session("4", "4")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.DumpPlans\"` at sf=")
    sb.append(sfDir.split("/").last).append(". What to look for: ")
    sb.append("`PushedFilters`/`ReadSchema` on scans (pushdown + pruning), ")
    sb.append("`BroadcastHashJoin` on dims vs `Exchange hashpartitioning` ")
    sb.append("on facts, `partial_`/final aggregate pairs, and codegen ")
    sb.append("stage ids (`[codegen id : n]`). Expression ids are ")
    sb.append("renumbered per plan and run-specific ids (`plan_id`, pid, RDD and ")
    sb.append("broadcast ids, UUIDs, lambda classes, object hashes) masked, so a rerun ")
    sb.append("changes nothing.\n")
    for (name <- headline) {
      sb.append(s"\n## $name\n\n```\n")
      sb.append(formatted(SparkEntry.queries(name)(spark, sfDir)))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
