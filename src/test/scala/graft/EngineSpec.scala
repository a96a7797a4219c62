package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.ParamLiteral
import graft.sources.{LocalFs, TableLog}

/** Session-build conventions: the engine's confs reach the session
  * and stay as the caller sets them, `GraftExtensions` installs the
  * engine once, Spark's generated-class cache holds the engine's
  * working set, filter literals are parameters of the generated code,
  * and local writes set file modes without starting a process. */
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
    val root = Files.createTempDirectory("graft_param").toString + "/t"
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

  /** One SQL commit of each kind on a 130-row table whose log
    * checkpoints every 2 commits. */
  private def commitRound(root: String): Unit = {
    val key = "spark.graft.tablelog.checkpointInterval"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    val t = s"graft_log('$root')"
    val session = Session(spark)
    try Seq(
      s"CREATE TABLE $t STATS (id) AS SELECT id, id % 7 AS g FROM range(100)",
      s"INSERT INTO $t SELECT id, 0L AS g FROM range(100, 120)",
      s"""MERGE INTO $t AS t
         |USING (SELECT id, 1L AS g FROM range(110, 130)) AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET g = s.g
         |WHEN NOT MATCHED THEN INSERT *
         |STATS (id)""".stripMargin,
      s"DELETE FROM $t WHERE id % 11 = 0",
      s"OPTIMIZE $t",
      s"UPDATE $t SET g = g + 1 WHERE id % 13 = 0 STATS (id)"
    ).foreach(session.sql)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(TableLog.snapshot(spark, root).count() == 130 - 12)
  }

  test("a round of SQL commits starts no chmod process") {
    val root = Files.createTempDirectory("graft_nofork").toString + "/t"
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try commitRound(root) finally rec.stop()
    val dump = Files.createTempFile("graft_nofork", ".jfr")
    try {
      rec.dump(dump)
      // Spark's asynchronous `rm -rf` cleanup may start processes from
      // other threads during the window; only chmod is the write path's
      val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).filter(_.startsWith("chmod"))
      assert(chmods.isEmpty, s"${chmods.size} chmod processes: ${chmods.take(3)}")
    } finally { rec.close(); Files.delete(dump) }
  }

  test("local writes keep the stock modes, the sticky bit and the " +
      "refused rename onto a file, through the engine's file: filesystem") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    val local = FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(local.getClass == classOf[LocalFs])
    val root = Files.createTempDirectory("graft_modes").toString + "/t"
    commitRound(root)
    val all = Files.walk(Paths.get(root)).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq
    def named(re: String) = {
      val hits = all.filter(_.getFileName.toString.matches(re))
      assert(hits.nonEmpty, re)
      hits
    }
    val files = Seq(".*\\.parquet", "\\..*\\.parquet\\.crc", "v\\d+\\.json",
      "_stats\\.tsv", "ckpt-v\\d+\\.tsv").flatMap(named)
    def mode(f: java.nio.file.Path) =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
    for (f <- files) assert(mode(f) == "rw-r--r--", f)
    for (d <- files.map(_.getParent).distinct) assert(mode(d) == "rwxr-xr-x", d)
    val dir = Files.createTempDirectory("graft_sticky")
    val sticky = Integer.parseInt("1755", 8)
    local.setPermission(new Path(dir.toUri), new FsPermission(sticky.toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == sticky)
    assert(local.getFileStatus(new Path(dir.toUri)).getPermission.toShort == sticky)
    val Seq(a, b) = Seq("a", "b").map { n =>
      val p = new Path(dir.toUri.toString, n)
      val out = local.create(p); out.write(n.getBytes); out.close(); p }
    assert(!local.rename(a, b))
    assert(Files.readString(Paths.get(b.toUri)) == "b")
  }
}
