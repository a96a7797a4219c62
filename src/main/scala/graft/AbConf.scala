package graft

/** Paired in-JVM A/B for a runtime SQL conf (optimization-round
  * tooling): for each key in SPARK_GRAFT_ONLY, warm up once, then
  * alternate conf value A / value B over N rounds in ONE session and
  * report per-key medians. Interleaving makes the comparison immune to
  * the box's load bursts, which inflate whole wall-clock windows.
  *
  * Env: SPARK_GRAFT_AB_KEY, SPARK_GRAFT_AB_A, SPARK_GRAFT_AB_B,
  * SPARK_GRAFT_AB_N (default 3 pairs).
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val keys = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")).getOrElse(Nil)
    val confKey = sys.env("SPARK_GRAFT_AB_KEY")
    val a = sys.env("SPARK_GRAFT_AB_A")
    val b = sys.env("SPARK_GRAFT_AB_B")
    val n = sys.env.getOrElse("SPARK_GRAFT_AB_N", "3").toInt
    val spark = Engine.session(cpus, cpus)
    def once(k: String): Double = {
      Bench.dropDeadBlocks(spark)
      val t0 = System.nanoTime()
      Bench.materialize(SparkEntry.queries(k)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(f"conf=$confKey A=$a B=$b pairs=$n")
    for (k <- keys) {
      spark.conf.set(confKey, a)
      // a key that fails warm-up will fail its pairs identically: skip
      // it and keep measuring the rest (one bad key must not abort the
      // whole A/B run)
      val warmOk =
        try { once(k); true } catch { case e: Throwable =>
          System.err.println(s"[ab] $k FAILED (skipped): ${e.getMessage}")
          false }
      if (warmOk) {
        val (ta, tb) = (collection.mutable.ArrayBuffer[Double](),
          collection.mutable.ArrayBuffer[Double]())
        try for (_ <- 1 to n) {
          spark.conf.set(confKey, a); ta += once(k)
          spark.conf.set(confKey, b); tb += once(k)
        } catch { case e: Throwable =>
          System.err.println(s"[ab] $k FAILED mid-pairs: ${e.getMessage}") }
        if (ta.nonEmpty && tb.nonEmpty)
          println(f"AB $k%-24s A=${med(ta.toSeq)}%6.2f B=${med(tb.toSeq)}%6.2f " +
            f"B/A=${med(tb.toSeq) / med(ta.toSeq)}%5.2f  " +
            f"(A: ${ta.map(x => f"$x%.2f").mkString(",")}  B: ${tb.map(x => f"$x%.2f").mkString(",")})")
      }
    }
    spark.stop()
  }
}
