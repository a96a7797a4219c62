package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: sets the engine up several times, runs
  * one workload's closed loop for a fixed window, checks what it can
  * in-process, and writes every raw record to one JSON file. run.py
  * generates the inputs, launches this, runs the DuckDB checks and
  * turns the records into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out FILE --cores C
  */
object Main {
  /** Set-ups per run: the first is cold (class loading, first code
    * generation); `setup_s` is the median of the others. */
  val Setups = 4
  /** Whole cycles or passes a window runs at least, so the tail
    * percentile of every run is taken over the same request mix. */
  val MinRounds = 3

  trait Workload {
    /** Register inputs and build the initial state (part of set-up). */
    def init(ctx: Ctx): Unit
    /** Warm-up ops, untimed (part of set-up). */
    def warmup(ctx: Ctx): Unit
    /** Untimed ops after the last set-up, before the window; not part
      * of set-up time. */
    def prime(ctx: Ctx): Unit = ()
    /** Undo init before the engine is set up again. */
    def teardown(ctx: Ctx): Unit = ()
    /** The timed closed loop; stop issuing ops at `deadline`. */
    def run(ctx: Ctx, deadline: Long): Unit
    /** Checks and figures gathered after the window. */
    def finish(ctx: Ctx): Unit = ()
    /** The op names of one pass, for workloads that run fixed passes. */
    def chain: Seq[String] = Nil
  }

  def workload(name: String, rng: scala.util.Random): Workload = name match {
    case "lakehouse_rw" => new LakehouseRw(rng)
    case "curation_pipeline" => new CurationPipeline
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opt("workload"), opt("seed").toLong,
      opt("cores").toInt, new Tracer(opt("trace") == "1"), opt("inputs"),
      Paths.get(opt("work")))
    val wl = workload(ctx.workload, new scala.util.Random(ctx.seed))
    Heap.watch()
    val setupRecs = (0 until Setups).map { i =>
      val t0 = Clock.now
      val spark = ctx.tracer.span("Engine.session") {
        graft.Engine.session(ctx.cores.toString, ctx.cores.toString)
      }
      val t1 = Clock.now
      ctx.spark = spark
      ctx.listeners.foreach(_.register(spark))
      ctx.sess = ctx.tracer.span("Session.configure")(graft.Session(spark))
      val t2 = Clock.now
      ctx.tracer.span("setup.init")(wl.init(ctx))
      val t3 = Clock.now
      ctx.tracer.span("setup.warmup")(wl.warmup(ctx))
      val t4 = Clock.now
      if (i < Setups - 1) {
        wl.teardown(ctx)
        graft.sources.Tables.invalidate(spark)
        spark.stop()
      }
      Json.obj(Seq("total_s" -> Json.num((t4 - t0) / 1e9),
        "session_ms" -> Json.num((t1 - t0) / 1e6),
        "configure_ms" -> Json.num((t2 - t1) / 1e6),
        "init_ms" -> Json.num((t3 - t2) / 1e6),
        "warmup_ms" -> Json.num((t4 - t3) / 1e6)))
    }
    val p0 = Clock.now
    wl.prime(ctx)
    val primeS = (Clock.now - p0) / 1e9
    // set-up ops are not part of the measured stream
    ctx.ops.clear()
    val w0 = Clock.now
    wl.run(ctx, w0 + (opt("seconds").toDouble * 1e9).toLong)
    val w1 = Clock.now
    val peakHeapMb = Heap.peakMb
    wl.finish(ctx)
    ctx.listeners.foreach(_.drain())
    val out = Json.obj(Seq(
      "workload" -> Json.str(ctx.workload),
      "seed" -> ctx.seed.toString,
      "cores" -> ctx.cores.toString,
      "trace" -> ctx.tracer.enabled.toString,
      "setups" -> Json.arr(setupRecs),
      "prime_s" -> Json.num(primeS),
      "chain" -> Json.arr(wl.chain.map(Json.str)),
      // every workload reports the per-step metrics, 0 where not run
      "curation_chain" -> Json.arr(CurationPipeline.Chain.map(Json.str)),
      "window" -> Json.obj(Seq("t0" -> Json.num(Clock.ms(w0)),
        "t1" -> Json.num(Clock.ms(w1)))),
      "ops" -> Json.arr(ctx.allOps.map(opJson)),
      "spans" -> Json.arr(ctx.tracer.all.map(spanJson)),
      "extra" -> Json.obj(ctx.extra.asScala.toSeq.sortBy(_._1)),
      "checks" -> Json.arr(ctx.checks.asScala.map(c => Json.obj(Seq(
        "key" -> Json.str(c.key), "path" -> Json.str(c.path),
        "sql" -> Json.str(c.sql), "inputs" -> Json.str(c.inputs))))),
      "peak_rss_kb" -> peakRssKb.toString,
      "peak_heap_mb" -> Json.num(peakHeapMb)) ++
      ctx.listeners.map(listenerJson).getOrElse(Nil))
    Files.write(Paths.get(opt("out")), out.getBytes(UTF_8))
    ctx.spark.stop()
  }

  private def opJson(o: OpRec): String = Json.obj(Seq(
    "id" -> o.id.toString, "name" -> Json.str(o.name),
    "cls" -> Json.str(o.cls),
    "t0" -> Json.num(Clock.ms(o.t0)), "t1" -> Json.num(Clock.ms(o.t1)),
    "build_ms" -> Json.num(o.buildNs / 1e6),
    "exec_ms" -> Json.num(o.execNs / 1e6),
    "rows" -> o.rows.toString, "version" -> o.version.toString,
    "failed" -> o.failed.toString,
    "wrong" -> o.wrong.toString,
    "err" -> Option(o.err).map(Json.str).getOrElse("null")))

  private def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "name" -> Json.str(s.name),
    "t0" -> Json.num(Clock.ms(s.t0)), "t1" -> Json.num(Clock.ms(s.t1)),
    "parent" -> s.parent.toString, "op" -> s.op.toString))

  private def listenerJson(l: Listeners): Seq[(String, String)] = Seq(
    "jobs" -> Json.arr(l.jobs.values.asScala.toSeq.sortBy(_.job).map { j =>
      Json.obj(Seq("job" -> j.job.toString, "op" -> j.op.toString,
        "t0" -> j.t0.toString, "t1" -> j.t1.toString,
        "stages" -> j.stages.toString)) }),
    "tasks" -> Json.obj(l.byOp.asScala.toSeq.sortBy(_._1).map { case (op, a) =>
      op.toString -> Json.obj(Seq(
        "tasks" -> a.tasks.get.toString, "failed" -> a.failed.get.toString,
        "run_ms" -> a.runMs.get.toString,
        "cpu_ms" -> Json.num(a.cpuNs.get / 1e6),
        "gc_ms" -> a.gcMs.get.toString,
        "shuffle_write" -> a.shuffleW.get.toString,
        "shuffle_read" -> a.shuffleR.get.toString,
        "spill" -> a.spill.get.toString,
        "input_bytes" -> a.inBytes.get.toString,
        "input_records" -> a.inRecords.get.toString)) }),
    "qe" -> Json.arr(l.qes.asScala.toSeq.map { q =>
      Json.obj(Seq("exec" -> q.exec.toString,
        "op" -> l.execOp.getOrDefault(q.exec, -1L).toString,
        "phases" -> Json.obj(q.phases.toSeq.map { case (k, v) => k -> v.toString }),
        "observed" -> Json.obj(q.observed.toSeq.map { case (n, m) =>
          n -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.str(v) }) })))
    }))

  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** The heap's high-water mark: the most heap left in use after any
  * garbage collection of the run (live data plus garbage the collector
  * has not reached yet), from the collectors' notifications. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(
      new NotificationListener {
        def handleNotification(n: Notification, h: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData]).getGcInfo
              .getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(after, (a, b) => a max b)
          }
      }, null, null))

  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}
