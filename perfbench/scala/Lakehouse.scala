package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** One graft_log table seeded from `orders`, and one client that
  * interleaves, in cycles of a fixed mix in a seeded order, writes
  * (INSERT / MERGE / UPDATE / DELETE / OPTIMIZE as SQL text through
  * `graft.Session.sql`), version-pinned reads (point, range, aggregate,
  * time travel, history, also SQL text) and egress: a pinned snapshot
  * exported as Arrow IPC in each codec and read back, and a slice sent
  * up and fetched back through an in-process FlightGrpc server. Every
  * read and every exported row set is checked against the in-memory
  * model of the table at the version it pinned; the model is built from
  * the batches the benchmark generated. */
final class LakehouseRw(rng: Random) extends Main.Workload {
  private val models = new ConcurrentHashMap[Int, Map[Long, Row]]()
  @volatile private var latest = 0
  private var base: Map[Long, Row] = _
  private var schema: StructType = _
  private var root: String = _
  private var roots = 0
  private var nextKey = 0L
  private val writerRng = new Random(rng.nextLong())
  private val readerRng = new Random(rng.nextLong())
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** Commits between TableLog checkpoints: a window of at least three
    * cycles (24 commits) writes at least four. */
  val checkpointInterval = 5
  /** IPC export variants: none and lz4 through `Ipc.writeIpc`, zstd
    * through the DSv2 sink (key-range files with min/max sidecars,
    * read back with projection and predicate pruning), dict through
    * `Ipc.writeIpcDict` on the two low-cardinality string columns. */
  val codecs = Seq("none", "lz4", "zstd", "dict")
  private val dictCols = Seq("o_orderstatus", "o_orderpriority")
  private val projected = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
  private var server: graft.ops.FlightGrpc.Server = _

  private def version(df: DataFrame): Int = df.collect()(0).getInt(0)

  def init(ctx: Ctx): Unit = {
    val s = ctx.spark
    s.conf.set("spark.graft.tablelog.checkpointInterval",
      checkpointInterval.toString)
    val orders = graft.sources.Tables(s, ctx.inputs, "orders")
    ctx.sess.registerTable("orders", orders)
    schema = orders.schema
    if (base == null)
      base = orders.collect().map(r => r.getLong(0) -> r).toMap
    nextKey = base.keys.max + 1
    roots += 1
    root = ctx.work.resolve(s"tlog$roots").toString
    val v = version(ctx.tracer.span("Session.sql")(ctx.sess.sql(
      s"CREATE TABLE graft_log('$root') STATS (o_orderkey) AS SELECT * FROM orders")))
    models.clear()
    models.put(v, base)
    latest = v
    server = new graft.ops.FlightGrpc.Server(s).start()
  }

  override def teardown(ctx: Ctx): Unit = server.close()

  /** One insert and one point read. */
  def warmup(ctx: Ctx): Unit = {
    write(ctx, "insert")
    read(ctx, "point")
  }

  /** One full cycle, and the export variants it did not run: the
    * first cycle on the full-size table runs visibly slower while the
    * JIT catches up. */
  override def prime(ctx: Ctx): Unit = {
    runCycle(ctx, 0)
    codecs.tail.foreach(c => read(ctx, "export_" + c))
  }

  private def row(key: Long, r: Random, like: Option[Row] = None): Row = {
    val price = math.round(r.nextDouble() * 49900000 + 100000) / 100.0
    val status = Seq("F", "O", "P")(r.nextInt(3))
    like match {
      case Some(old) => Row(key, old.get(1), status, price, old.get(4), old.get(5))
      case None =>
        val day = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
          .plusDays(r.nextInt(2404))
        val date: Any = schema("o_orderdate").dataType match {
          case TimestampType => java.sql.Timestamp.valueOf(day)
          case _ => day
        }
        Row(key, r.nextInt(3000).toLong, status, price, date,
          priorities(r.nextInt(5)))
    }
  }

  /** Uncompressed bytes of a row as the user wrote it. */
  private def userBytes(r: Row): Long =
    8 + 8 + r.getString(2).length + 8 + 8 + r.getString(5).length

  private def register(ctx: Ctx, rows: Seq[Row]): Unit =
    ctx.spark.createDataFrame(rows.asJava, schema)
      .createOrReplaceTempView("pb_w_batch")

  private def commit(ctx: Ctx, kind: String, sql: String,
      apply: Map[Long, Row] => Map[Long, Row], bytes: Long): Unit = {
    val before = models.get(latest)
    var v = -1
    val rec = ctx.op(kind, "write") { t =>
      val df = t.build(ctx.tracer.span("Session.sql")(ctx.sess.sql(sql)))
      v = t.exec(version(df))
      t.version = v
      1L
    }
    if (!rec.failed) {
      models.put(v, apply(before))
      latest = v
      ctx.add("user_bytes", bytes.toDouble)
    }
  }

  private def write(ctx: Ctx, kind: String): Unit = {
    val r = writerRng
    val live = models.get(latest)
    kind match {
      case "insert" =>
        val rows = (0 until 200).map(i => row(nextKey + i, r))
        nextKey += 200
        register(ctx, rows)
        commit(ctx, kind, s"INSERT INTO graft_log('$root') SELECT * FROM pb_w_batch",
          m => m ++ rows.map(x => x.getLong(0) -> x), rows.map(userBytes).sum)
      case "merge" =>
        val keys = live.keysIterator.drop(r.nextInt(live.size - 100)).take(100).toSeq
        val src = keys.map(k => row(k, r, Some(live(k)))) ++
          (0 until 100).map(i => row(nextKey + i, r))
        nextKey += 100
        register(ctx, src)
        commit(ctx, kind,
          s"""MERGE INTO graft_log('$root') AS t
             |USING (SELECT * FROM pb_w_batch) AS s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus
             |WHEN NOT MATCHED THEN INSERT *
             |STATS (o_orderkey)""".stripMargin,
          m => m ++ src.map(x => x.getLong(0) -> x), src.map(userBytes).sum)
      case "update" =>
        val k = r.nextInt(97)
        val touched = live.valuesIterator.filter(_.getLong(0) % 97 == k).toSeq
        commit(ctx, kind,
          s"UPDATE graft_log('$root') SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 97 = $k STATS (o_orderkey)",
          m => m ++ touched.map(x => x.getLong(0) -> Row(x.get(0), x.get(1),
            x.get(2), x.getDouble(3) + 1, x.get(4), x.get(5))),
          touched.map(userBytes).sum)
      case "delete" =>
        val k = r.nextInt(211)
        commit(ctx, kind, s"DELETE FROM graft_log('$root') WHERE o_orderkey % 211 = $k",
          m => m.filter { case (key, _) => key % 211 != k }, 0L)
      case "optimize" =>
        commit(ctx, kind, s"OPTIMIZE graft_log('$root')", identity, 0L)
    }
  }

  /** The statements of one cycle, in order. Only the three reads
    * between the DELETE and the OPTIMIZE apply a deletion vector, which
    * makes a read about twice as slow: a fixed minority of the reads. */
  private val writeCycle = Seq("insert", "merge", "delete", "optimize",
    "update", "insert", "merge", "insert")

  private def canon(rows: Iterable[Row]): Seq[String] =
    rows.toSeq.map(Canon.value).sorted

  private def read(ctx: Ctx, kind: String): Unit =
    if (kind.startsWith("export_")) export(ctx, kind.stripPrefix("export_"))
    else if (kind == "flight") flight(ctx)
    else query(ctx, kind)

  /** A pinned SQL read: `asof` pins an older version and reads it like
    * point, range or agg; the others pin the latest committed version. */
  private def query(ctx: Ctx, kind: String): Unit = {
    val r = readerRng
    val v =
      if (kind != "asof") latest
      else {
        val vs = models.keySet.asScala.toSeq.sorted
        vs(r.nextInt(vs.size))
      }
    val model = models.get(v)
    val probe = model.keysIterator.drop(r.nextInt(model.size)).next()
    val lo = probe - probe % 1000
    val shape = if (kind == "asof") Seq("point", "range", "agg")(r.nextInt(3)) else kind
    val text = shape match {
      case "point" => s"SELECT * FROM pb_r_snap WHERE o_orderkey = $probe"
      case "range" =>
        s"SELECT * FROM pb_r_snap WHERE o_orderkey >= $lo AND o_orderkey < ${lo + 1000}"
      case "agg" =>
        "SELECT o_orderstatus, COUNT(*) AS n FROM pb_r_snap GROUP BY o_orderstatus"
      case "history" => s"DESCRIBE HISTORY graft_log('$root')"
    }
    var rows: Array[Row] = null
    val rec = ctx.op(if (kind == "history") kind else s"read_$kind", "read") { t =>
      val df = t.build {
        if (kind != "history")
          ctx.tracer.span("TableLog.snapshot")(
            graft.sources.TableLog.snapshot(ctx.spark, root, v))
            .createOrReplaceTempView("pb_r_snap")
        ctx.tracer.span("Session.sql")(ctx.sess.sql(text))
      }
      rows = t.exec(ctx.tracer.span("materialize")(df.collect()))
      rows.length
    }
    if (!rec.failed) rec.wrong = shape match {
      case "history" => rows.length < v + 1
      case "point" => canon(rows) != canon(model.get(probe).toSeq)
      case "range" => canon(rows) != canon(model.values.filter(x =>
        x.getLong(0) >= lo && x.getLong(0) < lo + 1000))
      case "agg" => canon(rows) != canon(model.values.groupBy(_.getString(2))
        .map { case (st, xs) => Row(st, xs.size.toLong) })
    }
  }

  private def slice(model: Map[Long, Row], lo: Long, hi: Long): Iterable[Row] =
    model.values.filter(x => x.getLong(0) >= lo && x.getLong(0) < hi)

  private def probeRange(r: Random, model: Map[Long, Row], width: Long): Long = {
    val k = model.keysIterator.drop(r.nextInt(model.size)).next()
    k - k % width
  }

  /** The latest snapshot exported in one codec (one op), then read
    * back (one op): whole for none, lz4 and dict, pruned to a key range
    * and three columns for zstd. */
  private def export(ctx: Ctx, codec: String): Unit = {
    val v = latest
    val model = models.get(v)
    val dir = ctx.work.resolve(s"export/$codec").toString
    val w = ctx.op(s"ipc_write_$codec", "egress") { t =>
      val df = t.build(ctx.tracer.span("TableLog.snapshot")(
        graft.sources.TableLog.snapshot(ctx.spark, root, v)))
      t.exec(ctx.tracer.span("Ipc.writeIpc")(exportTo(ctx, df, dir, codec)))
      model.size.toLong
    }
    if (w.failed) return
    ctx.add("egress_bytes", model.valuesIterator.map(userBytes).sum.toDouble)
    val lo = probeRange(readerRng, model, 1000)
    var rows: Array[Row] = null
    val rec = ctx.op(s"ipc_read_$codec", "egress") { t =>
      val df = t.build(ctx.tracer.span("Ipc.readIpc")(
        if (codec != "zstd") graft.ops.Ipc.readIpc(ctx.spark, dir)
        else ctx.spark.read.format("graft-ipc").load(dir)
          .filter(s"o_orderkey >= $lo AND o_orderkey < ${lo + 1000}")
          .select(projected.head, projected.tail: _*)))
      rows = t.exec(ctx.tracer.span("materialize")(df.collect()))
      rows.length
    }
    if (!rec.failed) {
      val read = if (codec != "zstd") model.values else slice(model, lo, lo + 1000)
      rec.wrong = canon(rows) != canon(
        if (codec != "zstd") read
        else read.map(x => Row(x.get(0), x.get(2), x.get(3))))
      ctx.add("egress_bytes", read.map(userBytes).sum.toDouble)
    }
  }

  private def exportTo(ctx: Ctx, df: DataFrame, dir: String, codec: String): Unit =
    codec match {
      case "none" => graft.ops.Ipc.writeIpc(df, dir)
      case "lz4" => graft.ops.Ipc.writeIpc(df, dir, "lz4")
      case "zstd" => df.repartitionByRange(ctx.cores, df("o_orderkey"))
        .write.format("graft-ipc").mode("overwrite")
        .option("compression", "zstd").save(dir)
      case "dict" => graft.ops.Ipc.writeIpcDict(df, dir, dictCols)
    }

  /** A 2000-key slice of the latest snapshot uploaded with doPut, then
    * the same slice fetched from the pinned snapshot with doGet. */
  private def flight(ctx: Ctx): Unit = {
    val v = latest
    val model = models.get(v)
    val lo = probeRange(readerRng, model, 2000)
    val want = slice(model, lo, lo + 2000).toSeq
    var got = -1L
    val put = ctx.op("flight_put", "egress") { t =>
      got = t.exec(ctx.tracer.span("FlightGrpc.doPut")(graft.ops.FlightGrpc.doPut(
        "127.0.0.1", server.boundPort, "pb_f_put", want, schema)))
      want.size.toLong
    }
    val bytes = want.map(userBytes).sum.toDouble
    if (!put.failed) {
      put.wrong = got != want.size
      ctx.add("egress_bytes", bytes)
      ctx.add("flight_bytes", bytes)
    }
    var rows: Seq[Row] = Nil
    val rec = ctx.op("flight_get", "egress") { t =>
      t.build(ctx.tracer.span("TableLog.snapshot")(
        graft.sources.TableLog.snapshot(ctx.spark, root, v))
        .createOrReplaceTempView("pb_f_snap"))
      rows = t.exec(ctx.tracer.span("FlightGrpc.doGet")(graft.ops.FlightGrpc.doGet(
        "127.0.0.1", server.boundPort,
        s"SELECT * FROM pb_f_snap WHERE o_orderkey >= $lo AND o_orderkey < ${lo + 2000}")))._1
      rows.size.toLong
    }
    if (!rec.failed) {
      rec.wrong = canon(rows) != canon(want)
      ctx.add("egress_bytes", bytes)
      ctx.add("flight_bytes", bytes)
    }
  }

  /** The pinned reads of one cycle: most of a cycle's ops, so the
    * median request is a read and commits and exports form the tail. */
  private val readCycle = Seq.fill(10)("point") ++ Seq.fill(4)("range") ++
    Seq.fill(2)("agg") ++ Seq.fill(5)("asof") ++ Seq("history")

  def run(ctx: Ctx, deadline: Long): Unit = {
    ctx.put("bytes_at_start", Sizes.tree(Path.of(root)).toDouble)
    ctx.put("version_at_start", latest)
    Seq("user_bytes", "egress_bytes", "flight_bytes").foreach(ctx.put(_, 0))
    // whole cycles only, so every run has the same mix of requests
    var n = 0
    while (n < Main.MinRounds || Clock.now < deadline) { n += 1; runCycle(ctx, n) }
  }

  /** Cycle `n`: each statement followed by three reads; the reads, one
    * export (in codec n mod 4) and one Flight round trip come in a
    * seeded order. */
  private def runCycle(ctx: Ctx, n: Int): Unit = {
    val reads = rng.shuffle(readCycle ++
      Seq("export_" + codecs(n % codecs.size), "flight"))
    writeCycle.zip(reads.grouped(3)).foreach { case (w, rs) =>
      write(ctx, w)
      rs.foreach(read(ctx, _))
    }
  }

  /** The final snapshot against the model, and the table's footprint:
    * its root against the live rows written once as fresh parquet. */
  override def finish(ctx: Ctx): Unit = {
    val v = latest
    val snap = graft.sources.TableLog.snapshot(ctx.spark, root, v)
    ctx.put("final_snapshot_ok",
      if (canon(snap.collect()) == canon(models.get(v).values)) 1 else 0)
    ctx.put("version_at_end", v)
    ctx.put("files_live", snap.inputFiles.length)
    val fresh = ctx.work.resolve("fresh").toString
    snap.write.mode("overwrite").parquet(fresh)
    ctx.put("fresh_bytes", Sizes.tree(Path.of(fresh)).toDouble)
    ctx.put("root_bytes", Sizes.tree(Path.of(root)).toDouble)
    ctx.put("checkpoint_interval", checkpointInterval)
    // checkpoints TableLog wrote for the window's commits
    val v0 = ctx.extra.get("version_at_start").toDouble
    ctx.put("checkpoints_written", Sizes.files(Path.of(root, "_log"))
      .map(_.getFileName.toString).collect {
        case f if f.startsWith("ckpt-v") && f.endsWith(".tsv") =>
          f.stripPrefix("ckpt-v").stripSuffix(".tsv").toInt
      }.count(c => c > v0 && c <= v))
    val (logBytes, dataFiles) = Sizes.tableLog(Path.of(root))
    ctx.put("log_bytes", logBytes)
    ctx.put("files_on_disk", dataFiles)
    finishExport(ctx, snap)
    server.close()
  }

  /** The final snapshot exported once in every codec: footprint,
    * compression ratios, record batches, and the share of files the
    * pruned zstd read skips (from its scan partitions). */
  private def finishExport(ctx: Ctx, snap: DataFrame): Unit = {
    def dir(codec: String) = ctx.work.resolve(s"final/$codec")
    def arrow(codec: String) = Sizes.files(dir(codec))
      .filter(_.getFileName.toString.endsWith(".arrow"))
    codecs.foreach(c => exportTo(ctx, snap, dir(c).toString, c))
    val bytes = codecs.map(c => c -> Sizes.tree(dir(c)).toDouble).toMap
    ctx.put("ipc_bytes_written", bytes.values.sum)
    Seq("lz4", "zstd", "dict").foreach(c =>
      ctx.put(s"ratio_$c", bytes("none") / bytes(c)))
    ctx.put("ipc_batches", codecs.flatMap(arrow).map { f =>
      val ch = java.nio.file.Files.newByteChannel(f)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      try {
        val rd = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
        try rd.getRecordBlocks.size() finally rd.close()
      } finally { ch.close(); alloc.close() }
    }.sum)
    val model = models.get(latest)
    val lo = probeRange(new Random(0), model, 1000)
    val parts = ctx.spark.read.format("graft-ipc").load(dir("zstd").toString)
      .filter(s"o_orderkey >= $lo AND o_orderkey < ${lo + 1000}")
      .rdd.getNumPartitions
    ctx.put("pruned_frac", 1 - parts.toDouble / arrow("zstd").size)
  }
}
