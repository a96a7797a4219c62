package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Session-build conventions: the static confs reach the session,
  * Spark's generated-class cache holds the engine's working set, and
  * `Engine.configure` adds its planner rules without dropping a
  * user's. */
class EngineSpec extends SparkSpec {

  private object UserRule extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan
  }
  private object UserStrategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
  }

  test("configure keeps user-installed rules and installs its own once") {
    val exp = spark.experimental
    val (savedOpt, savedStrat) = (exp.extraOptimizations, exp.extraStrategies)
    try {
      exp.extraOptimizations = Seq(UserRule)
      exp.extraStrategies = Seq(UserStrategy)
      Engine.configure(spark)
      Engine.configure(spark)
      val opt = exp.extraOptimizations
      for (r <- Seq(UserRule, graft.plans.SmallDimBroadcastRule(),
          graft.plans.WindowTopKRewriteRule()))
        assert(opt.count(_ == r) == 1, s"$r in $opt")
      assert(opt.size == 3, opt)
      val strat = exp.extraStrategies
      for (st <- Seq(UserStrategy, graft.plans.TopKPerGroupStrategy))
        assert(strat.count(_ == st) == 1, s"$st in $strat")
      assert(strat.size == 2, strat)
    } finally {
      exp.extraOptimizations = savedOpt
      exp.extraStrategies = savedStrat
    }
  }

  test("the shared session is built with the engine's static confs") {
    for ((k, v) <- Engine.buildConfs)
      assert(spark.sparkContext.getConf.get(k) == v, k)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.CodegenCacheMaxEntries.toString)
  }

  test("a working set over Spark's default 100 generated classes " +
      "compiles once") {
    // these keys generate about 190 distinct classes at sf0.001; at the
    // default cache size the LRU evicts each one before its next use,
    // so every round recompiles nearly all of them
    val keys = Seq("text_normalize", "quality_gopher", "dedup_exact",
      "simjoin_topk", "dedup_semantic", "knn_ivf", "bpe_train")
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      keys.foreach(k => SparkEntry.queries(k)(spark, sfDir).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    compiles()
    assert(compiles() == 0)
  }
}
