package graft

import org.apache.spark.sql.SparkSession

/** Session conventions for the engine (SURVEY §7 milestone 1).
  *
  * The reference's cast defaults are unsafe (Gandiva/Arrow
  * `CastOptions{allow_int_overflow, allow_float_truncate, ...}` —
  * `cpp/src/arrow/compute/kernels/cast.h:36`), i.e. invalid input →
  * null, overflow wraps, fractions truncate. Spark 4 defaults to ANSI
  * (errors); we pin the non-ANSI behavior, UTC session time, and the
  * ns-as-long parquet reading the events fixture needs.
  *
  * Idempotent and cheap — callable from every table load.
  */
object Engine {
  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100) — the analogue
    * of compiling a Gandiva projector once and evaluating it on every
    * batch. A curation pass generates about 230 distinct classes and a
    * whole curation or lakehouse run about 300, so at the default every
    * pass recompiles nearly all of them; 1000 is over 3x that working
    * set (SCALE.md has the measured sets and the metaspace cost). */
  val CodegenCacheMaxEntries = 1000

  /** Static confs every session of the engine is built with. They must
    * be on the builder: Spark reads them once (the codegen cache is
    * created by the JVM's first compile, extensions when the session
    * is built), so `configure` on a live session cannot change them. */
  val buildConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheMaxEntries.toString,
    // filter literals read from the plan, not inlined, so a read that
    // differs from the last one only in a literal reuses its class
    "spark.sql.extensions" -> classOf[graft.plans.ParamLiteralExtension].getName,
    // reliable `iterCheckpoint` files are deleted once their RDD is
    // garbage-collected, so checkpoint dirs do not grow without bound
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIME is part of the engine's declared type surface (§1.2 —
    // carried through the IPC/Flight codecs); Spark 4.1 gates the
    // type behind this flag
    spark.conf.set("spark.sql.timeType.enabled", "true")
    // AQE: runtime coalescing + skew-join handling — the 100 TB safety
    // net; on by default in Spark 4 but pinned here explicitly.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Post-shuffle coalescing keeps `parallelismFirst` sizing (target =
    // shuffle bytes / defaultParallelism, i.e. derived from the session's
    // core count, never a constant) but the default 1 MB
    // minPartitionSize FLOOR collapses small CPU-dense shuffles to a
    // handful of tasks: a 5 MB exchange feeding set-intersection or
    // hash verification work coalesces to ~5 partitions on any core
    // count, serializing minutes of per-row CPU behind KBs of I/O
    // (guide §2.2's cost model assumes cost ∝ bytes; candidate
    // verification breaks it). 64 KB keeps the floor as a guard against
    // absurd fragmentation while letting parallelism-first sizing win —
    // at production shuffle sizes partitions are >> 1 MB and this is a
    // no-op (measured: simjoin_topk verify stage 4 -> 30 tasks at
    // sf0.1, 2.8 s -> 0.9 s; zero effect on any >1 GB exchange).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "64k")
    // native expressions (GraftExtensions is the spark.sql.extensions
    // path for cluster deployment; this covers already-built sessions)
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // prepend only the graft rules that are missing: rules a user
    // installed survive, and a second call adds nothing
    val exp = spark.experimental
    exp.extraOptimizations = Seq(graft.plans.SmallDimBroadcastRule(),
      graft.plans.WindowTopKRewriteRule())
      .filterNot(exp.extraOptimizations.contains) ++ exp.extraOptimizations
    exp.extraStrategies = Seq(graft.plans.TopKPerGroupStrategy)
      .filterNot(exp.extraStrategies.contains) ++ exp.extraStrategies
    spark
  }

  /** Standard local session for mains (driver runs local[32]). */
  def session(threads: String, shufflePartitions: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config(buildConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    configure(s)
  }
}
