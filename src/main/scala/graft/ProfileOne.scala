package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job profiler for a named query (optimization-round tooling):
  * runs `SPARK_GRAFT_ONLY`-style keys through the same noop-sink
  * materialization the bench uses, with a listener that prints every
  * Spark job's wall time, stage count, task count, and shuffle bytes —
  * the "where does this query's time go" view the disabled UI would
  * otherwise give. Warm-up: each key runs once untimed first (JIT and
  * codegen are per-plan, and isolated cold runs are 2-3x off suite
  * position), then the profiled run.
  *
  * Run: SPARK_GRAFT_ONLY=k1,k2 sbt "runMain graft.ProfileOne"
  */
object ProfileOne {
  private case class JobRow(id: Int, desc: String, ms: Long, stages: Int,
      tasks: Int, shuffleRead: Long, shuffleWrite: Long, input: Long,
      t0: Long = 0L, t1: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val keys = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")).getOrElse(Nil)
    val spark = Engine.session(cpus, cpus)

    val jobs = mutable.ArrayBuffer[JobRow]()
    val jobStart = mutable.Map[Int, (Long, String)]()
    val jobStages = mutable.Map[Int, Int]()
    val stageToJob = mutable.Map[Int, Int]()
    val agg = mutable.Map[Int, (Int, Long, Long, Long)]() // tasks, sr, sw, in
    // listener callbacks run on the listener-bus thread while the main
    // thread flips `enabled` and clears the maps — volatile flag + one
    // lock keeps the profile rows consistent (ADVICE r14)
    @volatile var enabled = false
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        lock.synchronized {
          jobStart(e.jobId) = (e.time, desc)
          jobStages(e.jobId) = e.stageIds.size
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
          agg(e.jobId) = (0, 0L, 0L, 0L)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
        lock.synchronized {
          for (jid <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
            val (t, sr, sw, in) = agg.getOrElse(jid, (0, 0L, 0L, 0L))
            agg(jid) = (t + 1,
              sr + m.shuffleReadMetrics.totalBytesRead,
              sw + m.shuffleWriteMetrics.bytesWritten,
              in + m.inputMetrics.bytesRead)
          }
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
        lock.synchronized {
          jobStart.get(e.jobId).foreach { case (t0, desc) =>
            val (t, sr, sw, in) = agg.getOrElse(e.jobId, (0, 0L, 0L, 0L))
            jobs += JobRow(e.jobId, desc, e.time - t0,
              jobStages.getOrElse(e.jobId, 0), t, sr, sw, in, t0, e.time)
          }
        }
      }
    })

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    for (k <- keys) {
      val fn = SparkEntry.queries(k)
      // untimed warm-up (plan-specific codegen + JIT)
      try Bench.materialize(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[profile] $k warmup FAILED: ${e.getMessage}") }
      lock.synchronized {
        jobs.clear(); jobStart.clear(); stageToJob.clear(); agg.clear()
      }
      enabled = true
      val t0 = System.nanoTime()
      try Bench.materialize(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[profile] $k FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // let stragglers' onJobEnd land
      Thread.sleep(200)
      enabled = false
      val snap = lock.synchronized(jobs.toSeq)
      println(f"%n== $k: wall $wall%.2f s, ${snap.size} jobs, " +
        f"job-sum ${snap.map(_.ms).sum / 1000.0}%.2f s ==")
      snap.sortBy(-_.ms).take(25).foreach { j =>
        println(f"  job ${j.id}%3d ${j.ms}%6d ms stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d in=${mb(j.input)}%8s MB " +
          f"sr=${mb(j.shuffleRead)}%8s MB sw=${mb(j.shuffleWrite)}%8s MB  ${j.desc.take(100)}")
      }
      // driver-side gap timeline: time between consecutive job windows
      // (planning, fs metadata, commit machinery) — the cost the job
      // rows can't show
      val ordered = snap.sortBy(_.t0)
      val gaps = ordered.sliding(2).collect {
        case Seq(a, b) if b.t0 - a.t1 > 50 =>
          (a.id, b.id, b.t0 - a.t1)
      }.toSeq
      if (gaps.nonEmpty)
        println("  gaps>50ms: " + gaps.map { case (a, b, g) =>
          s"job$a->job$b ${g}ms" }.mkString(", "))
      // drop leaked persisted state between keys, as the bench does
      Bench.dropDeadBlocks(spark)
    }
    spark.stop()
  }
}
