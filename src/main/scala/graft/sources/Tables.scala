package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-provided star-schema fixtures (TESTDATA.md).
  *
  * Mirrors the reference's table-registration surface
  * (`rust/datafusion/src/execution/context.rs:177-198`,
  * `register_csv/register_parquet/register_table`): a name → DataFrame
  * registry over an on-disk directory of one parquet file per table.
  *
  * Scale posture: `spark.read.parquet(dir)` keeps Spark's native
  * multi-file split planning, predicate pushdown and column pruning —
  * the 100 TB path is "point this at a directory of many files", which
  * works unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose cardinality is scale-factor-INVARIANT (region: 5,
    * nation: 25 at any SF) — the only ones a rule may force-broadcast.
    * customer/supplier/part grow with SF (supplier is ~1B rows at the
    * 100 TB posture), so they must keep Spark's size-based choice. */
  val smallDims: Set[String] = Set("region", "nation")

  /** Plan cache: a DataFrame is an immutable logical plan, so reuse
    * per (dir, table) within a session skips re-listing the path and
    * re-reading parquet footers on every query — measurable at bench
    * scale and the right default for a long-lived session.
    *
    * Strongly keyed by the session object (identity equality): a cached
    * DataFrame itself references its SparkSession, so weak keying can
    * never reclaim entries (value-refs-key — the classic WeakHashMap
    * pitfall). The retention contract is explicit instead — entries
    * live until [[invalidate]] or JVM exit; a process churning through
    * many sessions should invalidate each on stop. The cached
    * DataFrame also pins the parquet file listing taken at first
    * read — regenerating a fixture dir in-place requires a new session
    * or invalidate (same contract as Spark's own FileIndex cache). */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  /** Drop all cached plans for a session (call when stopping it),
    * its memoized TableLog snapshots included. */
  def invalidate(spark: SparkSession): Unit = {
    cache.remove(spark)
    TableLog.invalidateSnapshots(spark)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.computeIfAbsent(spark, _ =>
      new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
    perSession.computeIfAbsent((dir, name), { _ =>
      // The events fixture's ts column has shipped as either parquet
      // TIMESTAMP(NANOS) — which Spark 4 rejects outright, so
      // Engine.buildConfs reads nanos as long and we truncate to micros
      // (integer `div`, not `/` — ns-since-epoch exceeds double's 2^53
      // exact-integer range) — or, in newer fixture generations, as
      // TIMESTAMP(MICROS) without timezone, which loads as
      // TimestampNTZ. Normalize BY LOADED TYPE so both generations
      // land on session-UTC TimestampType, the µs convention every
      // query and oracle assumes (SURVEY §1.2 ns-truncation note).
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") {
        import org.apache.spark.sql.functions.{col, expr}
        import org.apache.spark.sql.types.{LongType, TimestampType}
        df.schema("ts").dataType match {
          case LongType => // nanos-as-long generation
            df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case TimestampType => df
          case _ => // TimestampNTZ: UTC session tz makes this lossless
            df.withColumn("ts", col("ts").cast(TimestampType))
        }
      } else df
    })
  }

  /** Register every fixture table as a temp view (SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
