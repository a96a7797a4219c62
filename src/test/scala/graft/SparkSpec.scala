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
}
