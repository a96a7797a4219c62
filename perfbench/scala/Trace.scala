package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Wall clock shared by ops, spans and Spark's listener events: a
  * nanoTime reading mapped onto epoch milliseconds (Spark stamps job
  * events with `System.currentTimeMillis`). */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(nano: Long): Double = baseMs + (nano - baseNano) / 1e6
  def now: Long = System.nanoTime()
}

/** One timed call into a layer, recorded from outside the program. */
final case class Span(id: Int, name: String, t0: Long, t1: Long,
    parent: Int, op: Long)

/** In-memory span recorder. Disabled, `span` is a direct call. Spans
  * nest per thread; each carries the op it ran under. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val curOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def withOp[T](op: Long)(f: => T): T = {
    val prev = curOp.get
    curOp.set(op)
    try f finally curOp.set(prev)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.now
      try f
      finally {
        spans.add(Span(id, name, t0, Clock.now, parent, curOp.get))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Per-op accumulator of task metrics, keyed by the op's job tag. */
final class TaskAcc {
  val tasks, failed = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val shuffleW, shuffleR, spill, inBytes, inRecords = new AtomicLong
}

final case class JobRec(job: Int, op: Long, t0: Long, var t1: Long,
    stages: Int)

final case class QeRec(exec: Long, phases: Map[String, Long],
    observed: Map[String, Map[String, String]])

/** A SparkListener the benchmark registers on each session of a traced
  * run. Jobs, SQL executions and tasks are attributed to ops by the
  * `pb-op-<id>` job tag the benchmark sets around every op. */
final class Listeners {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  val byOp = new ConcurrentHashMap[Long, TaskAcc]()
  val execOp = new ConcurrentHashMap[Long, Long]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  private def opOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(Listeners.Prefix) =>
      t.stripPrefix(Listeners.Prefix).toLong }.getOrElse(-1L)

  private def acc(op: Long): TaskAcc = byOp.computeIfAbsent(op, _ => new TaskAcc)

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.currentTimeMillis())
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val op = opOf(tags)
      jobs.put(e.jobId, JobRec(e.jobId, op, e.time, -1L, e.stageIds.size))
      e.stageIds.foreach(s => stageJob.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.currentTimeMillis())
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.currentTimeMillis())
      val a = acc(stageJob.getOrDefault(e.stageId, -1L))
      a.tasks.incrementAndGet()
      if (!e.taskInfo.successful) a.failed.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inBytes.addAndGet(m.inputMetrics.bytesRead)
        a.inRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lastEvent.set(System.currentTimeMillis())
        execOp.put(s.executionId, opOf(s.jobTags))
      case end: SparkListenerSQLExecutionEnd =>
        lastEvent.set(System.currentTimeMillis())
        record(end)
      case _ =>
    }
  }

  /** Catalyst phases and observed metrics of one SQL execution. The
    * end event carries the execution's QueryExecution in a member that
    * is not public API; without it the record stays empty. */
  private def record(e: SparkListenerSQLExecutionEnd): Unit =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.foreach {
      case q: QueryExecution if q != null =>
        val phases = q.tracker.phases.map { case (k, v) => k -> v.durationMs }
        val obs = q.observedMetrics.map { case (name, row) =>
          name -> row.schema.fieldNames.zip(row.toSeq)
            .map { case (k, v) => k -> String.valueOf(v) }.toMap
        }
        qes.add(QeRec(e.executionId, phases, obs))
      case _ =>
    }

  def register(s: SparkSession): Unit = s.sparkContext.addSparkListener(spark)

  /** Listener events arrive asynchronously: wait until every started
    * job has ended and the bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    def open = jobs.values.asScala.exists(_.t1 < 0)
    while (System.currentTimeMillis() < deadline &&
      (open || System.currentTimeMillis() - lastEvent.get < 300))
      Thread.sleep(20)
  }
}

object Listeners {
  val Prefix = "pb-op-"
}
