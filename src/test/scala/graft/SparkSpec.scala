package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark local mode is expensive to boot, so suites reuse it). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[threads, maxFailures]: allow ONE task retry so specs can
      // inject attempt-0 failures and assert retry determinism — the
      // cluster default is maxFailures=4; plain local[4] would fail
      // the whole job on the first injected fault
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(Engine.buildConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  /** Spark jobs started while `body` runs, the listener bus drained
    * before and after (it is asynchronous; `listenerBus` is
    * `private[spark]`, hence the reflective call). */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try { body; drain(); jobs.get() }
    finally sc.removeSparkListener(listener)
  }
}
