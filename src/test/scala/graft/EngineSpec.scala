package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Session-build conventions: the static confs reach the session, and
  * Spark's generated-class cache holds the engine's working set. */
class EngineSpec extends SparkSpec {

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
