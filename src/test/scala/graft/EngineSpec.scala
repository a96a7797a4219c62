package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.ParamLiteral
import graft.sources.TableLog

/** Session-build conventions: the engine's confs reach the session
  * and stay as the caller sets them, `GraftExtensions` installs the
  * engine once, Spark's generated-class cache holds the engine's
  * working set, and filter literals are parameters of the generated
  * code. */
class EngineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private object UserRule extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan
  }
  private object UserStrategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
  }

  /** The rules of every optimizer batch (`batches` is protected in
    * Scala and public in the bytecode). */
  private def optimizerRules: Seq[Rule[_]] = {
    val opt = spark.sessionState.optimizer
    opt.getClass.getMethod("batches").invoke(opt).asInstanceOf[Seq[AnyRef]]
      .flatMap(b => b.getClass.getMethod("rules").invoke(b)
        .asInstanceOf[Seq[Rule[_]]])
  }

  test("the built session installs the engine once") {
    val rules = optimizerRules
    for (r <- Seq(graft.plans.SmallDimBroadcastRule(),
        graft.plans.WindowTopKRewriteRule()))
      assert(rules.count(_ == r) == 1, s"$r in ${rules.map(_.ruleName)}")
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.count(_ == graft.plans.TopKPerGroupStrategy) == 1,
      strategies)
    for ((name, _, _) <- GraftExtensions.functions)
      assert(spark.catalog.functionExists(name), name)
    val exp = spark.experimental
    val (savedOpt, savedStrat) = (exp.extraOptimizations, exp.extraStrategies)
    try {
      exp.extraOptimizations = Seq(UserRule)
      exp.extraStrategies = Seq(UserStrategy)
      Session(spark)
      assert(exp.extraOptimizations == Seq(UserRule))
      assert(exp.extraStrategies == Seq(UserStrategy))
    } finally {
      exp.extraOptimizations = savedOpt
      exp.extraStrategies = savedStrat
    }
  }

  test("building a Session and loading a fixture keep a conf the caller " +
      "set") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1m")
    try {
      Session(spark)
      graft.sources.Tables.invalidate(spark)
      graft.sources.Tables(spark, sfDir, "nation")
      assert(spark.conf.get(key) == "1m")
    } finally spark.conf.set(key, saved)
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

  /** A TableLog table of ids 0 until 3000 in three files, pinned at its
    * latest version and registered as `view`. */
  private def pinnedTable(view: String): Unit = {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_param").toString + "/t"
    TableLog.append(spark, root, (0 until 3000).map(i => (i.toLong, i % 7))
      .toDF("id", "g").repartition(3))
    TableLog.snapshot(spark, root).createOrReplaceTempView(view)
  }

  private def filters(df: org.apache.spark.sql.DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }

  private def params(f: FilterExec): Seq[Any] =
    f.condition.collect { case p: ParamLiteral => p.lit.value }

  test("pinned point reads differing only in a literal compile once " +
      "and return their own rows") {
    pinnedTable("param_point")
    def read(id: Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val rows = spark.sql(
        s"SELECT id, g FROM param_point WHERE id = $id").collect()
      (rows.map(r => (r.getLong(0), r.getInt(1))).toSeq,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val (first, _) = read(2711L)
    assert(first == Seq((2711L, 2711 % 7)))
    val (second, compiled) = read(2712L)
    assert(second == Seq((2712L, 2712 % 7)))
    assert(compiled == 0, s"second read compiled $compiled classes")
  }

  test("the filter reads its literal as a parameter; the scan's pushed " +
      "filters keep the literal") {
    pinnedTable("param_pushed")
    val df = spark.sql("SELECT * FROM param_pushed WHERE id = 1234")
    assert(df.count() == 1)
    assert(filters(df).flatMap(params) == Seq(1234L), filters(df))
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(id,1234)"), pushed)
  }

  test("filters differing only in a literal are not the same result; a " +
      "union of two differently filtered inputs returns both row sets") {
    pinnedTable("param_reuse")
    // without AQE, exchange reuse compares the prepared plans, the ones
    // that carry the parameters
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      // 3000 ids over g = id % 7: g < 4 has 429 rows each, the others 428
      def groups(n: Long) =
        s"SELECT g FROM param_reuse GROUP BY g HAVING count(*) > $n"
      def having(n: Long): FilterExec = {
        val fs = filters(spark.sql(groups(n)))
        assert(fs.size == 1 && params(fs.head) == Seq(n), fs)
        fs.head
      }
      // the two HAVING filters sit on identical aggregates: only the
      // parameter's value tells them apart
      assert(!having(428).sameResult(having(0)))
      assert(having(428).sameResult(having(428)))
      // an exchange above each filter: reuse keyed on a value-blind
      // canonical form would answer both sides from one
      val union = spark.sql(s"""
        SELECT 'a' AS side, count(*) FROM (${groups(428)})
        UNION ALL
        SELECT 'b' AS side, count(*) FROM (${groups(0)})""")
      val rows = union.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("a" -> 4L, "b" -> 7L), rows)
      assert(filters(union).flatMap(params).toSet == Set(428L, 0L))
    } finally spark.conf.set(aqe, saved)
  }

  test("inParallel runs at most `width` legs at once, returns results in " +
      "leg order, and rethrows the first failure with no pool thread left") {
    import scala.jdk.CollectionConverters._
    val running = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val legs = (0 until 12).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(20)
      running.decrementAndGet()
      i * i
    }
    assert(graft.ops.inParallel(3, "graft-test-pool")(legs) ==
      (0 until 12).map(i => i * i))
    assert(peak.get >= 2 && peak.get <= 3, s"peak ${peak.get} legs at once")
    val e = intercept[IllegalStateException](
      graft.ops.inParallel(3, "graft-test-pool")(Seq(
        () => { Thread.sleep(50); 0 },
        () => throw new IllegalStateException("leg 1"),
        () => { Thread.sleep(10000); 2 })))
    assert(e.getMessage == "leg 1")
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "graft-test-pool" && t.isAlive),
      "a pool thread outlived the call")
  }
}
