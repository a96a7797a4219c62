package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan lint over EVERY declared query: the blanket scale guards that
  * must hold no matter what an individual query does — no cartesian
  * products, no unplanned nested-loop joins, deterministic output
  * order, predicates pushed into parquet scans, and column-pruned
  * scans. Plan regressions gate like perf regressions: a new query
  * (or an optimizer-defeating refactor of an old one) fails here
  * before it ships.
  */
class PlanLintSpec extends SparkSpec {

  // deliberate exceptions, each justified at the definition site:
  //  - knn_brute/knn_ivf/knn_pq/knn_binary/knn_range:
  //    BroadcastNestedLoopJoin with a <=10-row broadcast side is the
  //    intended plan (query set vs candidates; for PQ the broadcast
  //    side is the 10 distance tables; for binary, 10 quantized query
  //    signatures; for range, the 10-query radius probe)
  //  - window_ntile: cross-broadcast of the single-row global count
  //  - tpch_q15/tpch_q22: cross-broadcast of a single-row global
  //    aggregate (max revenue / average balance) into the filter
  //  - tpch_q11: cross-broadcast of the single-row global inventory total
  //  - hash_funcs: cross-broadcast of the single-row murmur-cardinality
  //    aggregate next to the per-row crypto hashes
  //  - cross_join: the deliberate non-equi cross product over two
  //    broadcast-sized dims (Joins.qCrossJoin) — BNLJ with the 5-row
  //    side broadcast IS the intended physical plan
  //  - winsorize: cross-broadcast of the single-row p05/p95 quantile
  //    aggregate onto the corpus (the alternative is a full-table
  //    window — the exact plan the op exists to avoid)
  //  - hybrid_search: the vector leg cross-broadcasts the single-row
  //    query embedding onto the corpus scan — the knn_* shape
  //  - negative_sample: the 20-row anchor set cross-broadcasts onto
  //    the id scan (hash ranking needs every (anchor, cand) pair)
  //  - lsh_tune: the all-pairs exact-Jaccard ground truth over the
  //    BOUNDED audit subset (≤660 docs by construction, constant in
  //    the corpus) — all-pairs IS the audit; the production LSH path
  //    it audits stays bucketed
  //  - pmi_cooccur: cross-broadcast of the two SINGLE-ROW normalizing
  //    totals (token count, pair count) onto the pair frame — keeps
  //    the explode+join+agg lineage single-execution (a driver .head
  //    for each scalar would run it twice)
  //  - dsir_select: cross-broadcast of the SINGLE-ROW feature totals
  //    onto the 256-row bucket table (the pmi pattern) before that
  //    table itself broadcasts back onto the corpus features
  private val bnljAllowed =
    Set("knn_brute", "knn_ivf", "knn_pq", "knn_pq_persisted", "knn_binary",
      "knn_range", "window_ntile", "hybrid_search", "negative_sample",
      "tpch_q15", "tpch_q22", "tpch_q11", "hash_funcs", "cross_join",
      "winsorize", "lsh_tune", "pmi_cooccur", "dsir_select",
      // r14: per-column profile aggregates cross-joined — every BNLJ
      // side is a SINGLE-ROW global aggregate
      "profile_table")

  test("no query plans a cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("nested-loop joins appear only where the broadcast side is tiny by design") {
    for ((name, fn) <- SparkEntry.queries if !bnljAllowed(name)) {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name uses an unplanned nested-loop join")
    }
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan
    val inner: SparkPlan = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    inner.collectWithSubqueries { case s: FileSourceScanExec => s }
  }

  // scans whose ONLY data filters are computed expressions parquet
  // cannot evaluate (size(split(text)), shingle_hashes(text),
  // aggregate-lambda norms, derived-column isnotnull) — nothing to
  // push by construction; each query's residual filter still runs
  private val pushdownExempt = Set("range_join", "quality_repetition",
    "quality_cap", "ngram_lm", "embed_norm", "dedup_ngram", "dedup_embed",
    "dedup_containment", "simjoin_topk",
    // md5-nibble sampling gate: the ONLY data filter is a computed
    // hash parquet cannot evaluate
    "join_size_est")

  test("a parquet scan with data filters pushes at least one predicate") {
    for ((name, fn) <- SparkEntry.queries if !pushdownExempt(name)) {
      scans(fn(spark, sfDir)).foreach { sc =>
        if (sc.dataFilters.nonEmpty)
          assert(sc.metadata.getOrElse("PushedFilters", "[]") != "[]",
            s"$name: scan filters ${sc.dataFilters.mkString("; ")} but " +
              "pushes none into parquet")
      }
    }
  }

  // every Arrow IPC file read plans over the graft-ipc connector (its
  // column pruning and stats skipping), never over an RDD that
  // graft.ops.Ipc hands to createDataFrame
  test("no query scans an RDD built in graft.ops.Ipc") {
    import org.apache.spark.sql.execution.RDDScanExec
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sfDir).queryExecution.executedPlan
      val inner: SparkPlan = plan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      inner.collectWithSubqueries { case s: RDDScanExec => s.rdd.toString }
        .foreach(rdd => assert(!rdd.contains(" at Ipc.scala:"),
          s"$name scans $rdd"))
    }
  }

  // deliberate full-row reads: limit/limit_offset are SELECT *
  // pagination demos; mv_refresh replays its own 5-column state table;
  // sql_select_replace is a star modifier — the star KEEPS every
  // column (that's the clause), only swapping named values in place
  private val fullWidthAllowed =
    Set("limit", "limit_offset", "mv_refresh", "sql_select_replace")

  test("scans of wide tables prune columns (ReadSchema < full schema)") {
    for ((name, fn) <- SparkEntry.queries if !fullWidthAllowed(name)) {
      scans(fn(spark, sfDir)).foreach { sc =>
        val full = sc.relation.dataSchema.size
        if (full > 4)
          assert(sc.requiredSchema.size < full,
            s"$name: reads all $full columns of " +
              s"${sc.relation.location.rootPaths.headOption.getOrElse("?")}")
      }
    }
  }

  // Gandiva parity evidence (reference `gandiva/` = LLVM expression JIT
  // over filter/projection): this engine's equivalent is Catalyst
  // whole-stage codegen, so the expression-heavy queries must keep
  // their scan→filter→project pipeline INSIDE a codegen span. A custom
  // Expression shipped without doGenCode (CodegenFallback) would split
  // the span and silently interpret the hot path — this lint fails the
  // round that introduces one.
  private val codegenLinted = Set("filter_proj", "math_funcs",
    "string_funcs", "conditional_funcs", "bitwise_funcs", "cast", "like",
    "text_quality", "lang_id", "quality_gopher", "quality_classify",
    "q1_agg", "tpch_q6")

  test("expression-heavy queries keep every filter/project inside " +
      "whole-stage codegen") {
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    // AQE inserts codegen per stage only at execution (and the
    // session is built with AQE on, by Engine.buildConfs). So: EXECUTE
    // the query, then walk the finalized adaptive plan, descending
    // into materialized query stages.
    for ((name, fn) <- SparkEntry.queries if codegenLinted(name)) {
      val df = fn(spark, sfDir)
      df.collect() // finalize every adaptive stage
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def escaped(p: SparkPlan, inCodegen: Boolean): Seq[String] = p match {
        case w: WholeStageCodegenExec =>
          w.children.flatMap(escaped(_, inCodegen = true))
        case i: InputAdapter =>
          i.children.flatMap(escaped(_, inCodegen = false))
        case q: QueryStageExec => escaped(q.plan, inCodegen = false)
        case f: FilterExec if !inCodegen =>
          s"Filter(${f.condition.sql.take(60)})" +:
            f.children.flatMap(escaped(_, inCodegen))
        case pr: ProjectExec if !inCodegen =>
          "Project" +: pr.children.flatMap(escaped(_, inCodegen))
        case other => other.children.flatMap(escaped(_, inCodegen))
      }
      def spans(p: SparkPlan): Int = p match {
        case w: WholeStageCodegenExec => 1
        case q: QueryStageExec => spans(q.plan)
        case other => other.children.map(spans).sum
      }
      assert(spans(plan) > 0, s"$name compiled no whole-stage codegen span")
      val outside = escaped(plan, inCodegen = false)
      assert(outside.isEmpty,
        s"$name evaluates ${outside.mkString(", ")} OUTSIDE codegen — " +
          "a CodegenFallback expression is interpreting the hot path")
    }
  }

  test("every query declares a total ORDER BY or is a global aggregate") {
    // driver hash-compare requires deterministic row order: the
    // optimized plan must retain a Sort above everything else, or
    // produce at most one row
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, sfDir)
      val optimized = df.queryExecution.optimizedPlan.toString
      // top-level Sort, possibly under Limit/Offset wrappers (top-k,
      // pagination), or a single row
      val head4 = optimized.linesIterator.take(4).mkString("\n")
      val ok = head4.contains("Sort") || df.count() <= 1
      assert(ok, s"$name has no top-level ordering:\n$optimized")
    }
  }
}
