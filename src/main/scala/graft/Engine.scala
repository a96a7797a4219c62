package graft

import org.apache.spark.sql.SparkSession

/** Session conventions for the engine (SURVEY §7 milestone 1).
  *
  * The reference's cast defaults are unsafe (Gandiva/Arrow
  * `CastOptions{allow_int_overflow, allow_float_truncate, ...}` —
  * `cpp/src/arrow/compute/kernels/cast.h:36`), i.e. invalid input →
  * null, overflow wraps, fractions truncate. Spark 4 defaults to ANSI
  * (errors); we pin the non-ANSI behavior, UTC session time, and the
  * ns-as-long parquet reading the events fixture needs — all in
  * [[Engine.buildConfs]], which every engine session is built with.
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

  /** Every conf the engine's sessions are built with, the one place
    * engine behaviour is configured: `Engine.session` and the test
    * session put it on the builder, and a cluster deployment puts it in
    * spark-defaults. Some are static (Spark reads them once: the codegen
    * cache is created by the JVM's first compile, extensions when the
    * session is built), so they must be on the builder, not set on a
    * live session. */
  val buildConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheMaxEntries.toString,
    // the native functions, the planner rules and the filter-literal
    // parameters (GraftExtensions installs them all)
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    // reliable `iterCheckpoint` files are deleted once their RDD is
    // garbage-collected, so checkpoint dirs do not grow without bound
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    // local writes (TableLog commits, the output committer, exports,
    // checkpoints) set file and dir modes with a syscall instead of
    // forking `chmod` per create and mkdirs (graft.sources.LocalFs).
    // Hadoop caches one `file:` FileSystem per JVM and user, so this
    // takes effect only if the session is built before anything in the
    // JVM creates a local FileSystem
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.LocalFs].getName,
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // TIME is part of the engine's declared type surface (§1.2 —
    // carried through the IPC/Flight codecs); Spark 4.1 gates the
    // type behind this flag
    "spark.sql.timeType.enabled" -> "true",
    // AQE: runtime coalescing + skew-join handling — the 100 TB safety
    // net; on by default in Spark 4 but pinned here explicitly.
    "spark.sql.adaptive.enabled" -> "true",
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
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

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
    s
  }
}
