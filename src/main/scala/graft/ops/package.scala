package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for oracle-stable query results.
  *
  * The driver hash-compares our parquet output against DuckDB. Double
  * aggregation is order-dependent (partition-parallel sums), so every
  * declared money/ratio aggregate goes through exact decimal arithmetic
  * and is cast back to double only at the very end — deterministic and
  * engine-independent. This also holds at 100 TB: decimal sums are
  * associative, so partial aggregation / AQE re-partitioning never
  * changes the answer.
  */
package object ops {
  /** Exact sum of a 2-decimal money column, returned as double.
    * Oracle equivalent: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact mean via decimal sum / count, returned as double.
    * Oracle: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** SQL fragment equivalents used when emitting DuckDB oracle text. */
  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"
  def davgSql(col: String): String =
    s"${dsumSql(col)} / COUNT($col)"

  /** Run independent driver-submitted actions concurrently (guide
    * §2.6 "overlap independent jobs"): Spark happily schedules several
    * jobs at once — actions are only sequential because driver code
    * calls them sequentially — so later jobs' tasks back-fill
    * executors the earlier jobs' tails leave idle. Only for actions
    * with disjoint outputs and no ordering contract; failures
    * propagate with the original cause. */
  def inParallel(actions: (() => Unit)*): Unit = {
    inParallel(actions.length, "graft-inParallel")(actions); ()
  }

  /** Run `legs` with at most `width` of them at once and return their
    * results in leg order. The first leg runs on the caller thread (so
    * it keeps the caller's thread-locals); the others run on `width - 1`
    * daemon threads named `threadName`, and the caller, once its own
    * leg is done, runs any leg no pool thread has started yet. The
    * first failure in leg order is rethrown with its original cause,
    * after the other legs are interrupted and awaited: no pool thread
    * outlives the call. */
  def inParallel[A](width: Int, threadName: String)(legs: Seq[() => A]): Seq[A] = {
    if (width <= 1 || legs.lengthCompare(1) <= 0) return legs.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(width, legs.length) - 1, { (r: Runnable) =>
        val t = new Thread(r, threadName); t.setDaemon(true); t })
    try {
      val tasks = legs.tail.toVector.map(leg =>
        new java.util.concurrent.FutureTask[A](() => leg()))
      tasks.foreach(pool.execute)
      val first = legs.head()
      // run() is a no-op on a task a pool thread already started
      first +: tasks.map { t =>
        t.run()
        try t.get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue,
        java.util.concurrent.TimeUnit.NANOSECONDS)
    }
  }

  private val checkpointDirLock = new Object

  /** Materialize an iteration frame with truncated lineage — the
    * graph/CC loop primitive. Default: `localCheckpoint(eager)` (zero
    * fs round-trips; right for the local harness, but lineage is
    * truncated and blocks unreplicated, so an executor loss mid-loop
    * is unrecoverable). With `spark.graft.checkpointDir` set — the
    * 100 TB cluster posture (VERDICT r14 item 10) — a RELIABLE
    * `checkpoint(eager)` to that directory instead: iteration loops
    * survive executor loss at the cost of one write+read per
    * checkpoint. Identical results either way; only fault tolerance
    * and I/O cost differ. */
  def iterCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        // check-and-set under one lock: two loops checkpointing at once
        // must not each set (and so each create) a checkpoint subdir
        checkpointDirLock.synchronized {
          if (s.sparkContext.getCheckpointDir.isEmpty)
            s.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint(true)
      case _ => df.localCheckpoint(true)
    }
  }

  /** Fan a SMALL input out to the session's cores before CPU-dense
    * per-row work (md5 feature kernels, edit-distance verification):
    * a one-row-group parquet file cannot split, so a small scan
    * serializes minutes of per-row CPU on 1-2 tasks regardless of core
    * count — the inverse of the AQE-coalescing problem, and nothing in
    * Spark expands a scan's parallelism after planning. The added
    * round-robin exchange is bounded by the SIZE GUARD (plan-stats
    * estimate < 256 MB, i.e. trivially shuffleable), so at production
    * scale — where the scan itself supplies parallelism — this is an
    * identity, never an extra pass over big data. Only for call sites
    * whose downstream is partitioning-independent (aggregates/joins);
    * every use is oracle-checked. */
  def fanOutSmall(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= 0 && bytes < (256L << 20))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else {
      // the guard declining is a size-ESTIMATE decision — log it so a
      // mis-sized estimate is diagnosable from logs instead of only
      // from bench regressions (ADVICE r14)
      org.slf4j.LoggerFactory.getLogger("graft.ops.fanOutSmall").info(
        s"fanOutSmall declined: plan-stats estimate $bytes bytes >= 256 MB")
      df
    }
  }
}
