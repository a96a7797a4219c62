package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ops.{FlightGrpc, FlightProto}

/** The TRUE gRPC Flight transport (reference `format/Flight.proto`):
  * protobuf codec golden bytes, all-verb loopback round trips over
  * real gRPC/HTTP-2, auth enforcement, mid-stream error trailers, and
  * — the interop gate — a STOCK pyarrow.flight client driven against
  * the server out of process. */
class FlightGrpcSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("s", StringType), StructField("b", BooleanType),
    StructField("bin", BinaryType), StructField("dt", DateType),
    StructField("ts", TimestampType)))
  private val rows = Seq(
    Row(1L, 7, 1.5, 2.5f, "alpha", true, Array[Byte](1, 2),
      Date.valueOf("2024-01-02"), Timestamp.valueOf("2024-01-02 03:04:05")),
    Row(2L, null, null, null, null, null, null, null, null),
    Row(3L, -7, -0.25, 0.5f, "βeta", false, Array[Byte](),
      Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59")))

  // ---- FlightProto codec ---------------------------------------------------

  test("protobuf codec: golden bytes for the core messages") {
    import FlightProto._
    // Ticket { ticket: "abc" } = tag 0x0A, len 3, 'a' 'b' 'c'
    assert(Ticket.of("abc").encode.toSeq ===
      Seq[Byte](0x0a, 3, 'a', 'b', 'c'))
    // FlightDescriptor CMD "q" = type(1)=2 [08 02], cmd(2)="q" [12 01 71]
    assert(FlightDescriptor.forCmd("q").encode.toSeq ===
      Seq[Byte](0x08, 0x02, 0x12, 0x01, 0x71))
    // PATH descriptor with two segments: repeated field 3
    assert(FlightDescriptor.forPath("a", "b").encode.toSeq ===
      Seq[Byte](0x08, 0x01, 0x1a, 0x01, 'a', 0x1a, 0x01, 'b'))
    // FlightData data_body is field 1000: tag = (1000<<3)|2 = 8002 =
    // varint [C2 3E]
    val fd = FlightData(None, Array[Byte](9), Array.emptyByteArray,
      Array[Byte](1, 2, 3))
    assert(fd.encode.toSeq ===
      Seq[Byte](0x12, 0x01, 0x09, 0xc2.toByte, 0x3e, 0x03, 1, 2, 3))
    // Handshake protocol_version is a varint field 1
    assert(Handshake(300L, Array[Byte]('x')).encode.toSeq ===
      Seq[Byte](0x08, 0xac.toByte, 0x02, 0x12, 0x01, 'x'))
  }

  test("protobuf codec: every message round-trips, unknown fields skip") {
    import FlightProto._
    val desc = FlightDescriptor.forCmd("SELECT 1")
    val descBack = FlightDescriptor.decode(desc.encode)
    assert(descBack.descType === desc.descType)
    assert(descBack.cmdUtf8 === "SELECT 1")
    val ep = FlightEndpoint(Ticket.of("t#3"), Seq(Location("grpc://x:1")))
    val epBack = FlightEndpoint.decode(ep.encode)
    assert(epBack.ticket.utf8 === "t#3")
    assert(epBack.locations === Seq(Location("grpc://x:1")))
    val info = FlightInfo(Array[Byte](1, 2), Some(desc), Seq(ep), 0L, 0L)
    val got = FlightInfo.decode(info.encode)
    assert(got.schema.toSeq === Seq[Byte](1, 2))
    assert(got.descriptor.map(_.cmdUtf8) === Some("SELECT 1"))
    assert(got.endpoints.map(_.ticket.utf8) === Seq("t#3"))
    val act = Action("row_count", "v".getBytes)
    assert(Action.decode(act.encode).actionType === "row_count")
    val ba = BasicAuth("u", "p")
    assert(BasicAuth.decode(ba.encode) === ba)
    // unknown field (field 99, varint) is skipped, known fields survive
    val w = new PWriter
    w.uint64(99, 7L); w.bytes(1, "tick".getBytes)
    assert(Ticket.decode(w.toBytes).utf8 === "tick")
  }

  // ---- loopback round trips -------------------------------------------------

  test("DoPut + DoGet round-trip all nine wire types over real gRPC") {
    val server = new FlightGrpc.Server(spark).start()
    try {
      val n = FlightGrpc.doPut("127.0.0.1", server.boundPort, "fg_types",
        rows, schema)
      assert(n === 3)
      val (got, gotSchema) =
        FlightGrpc.doGet("127.0.0.1", server.boundPort, "fg_types")
      assert(gotSchema.map(f => (f.name, f.dataType)) ===
        schema.map(f => (f.name, f.dataType)))
      val exp = rows.sortBy(_.getLong(0))
      val act = got.sortBy(_.getLong(0))
      (exp zip act).foreach { case (e, a) =>
        (0 until schema.length).foreach { c =>
          (e.get(c), a.get(c)) match {
            case (x: Array[Byte], y: Array[Byte]) => assert(x.sameElements(y))
            case (x, y) => assert(x === y, s"col ${schema(c).name}")
          }
        }
      }
    } finally server.close()
  }

  test("SQL CMD tickets, GetSchema, ListFlights, actions") {
    val server = new FlightGrpc.Server(spark).start()
    try {
      val port = server.boundPort
      FlightGrpc.doPut("127.0.0.1", port, "fg_sql", rows, schema)
      assert(FlightGrpc.listFlights("127.0.0.1", port).contains("fg_sql"))
      val st = FlightGrpc.getSchema("127.0.0.1", port,
        "SELECT id, d FROM fg_sql")
      assert(st.fieldNames.toSeq === Seq("id", "d"))
      val (got, _) = FlightGrpc.doGet("127.0.0.1", port,
        "SELECT COUNT(*) AS n, SUM(id) AS s FROM fg_sql")
      assert(got === Seq(Row(3L, 6L)))
      val actions = FlightGrpc.listActions("127.0.0.1", port)
      assert(actions.size === 3)
      assert(actions.exists(_.startsWith("drop_view:")))
      assert(actions.exists(_.startsWith("row_count:")))
      assert(FlightGrpc.doAction("127.0.0.1", port,
        "row_count", "fg_sql") === "3")
      assert(FlightGrpc.doAction("127.0.0.1", port,
        "drop_view", "fg_sql") === "true")
      assert(!FlightGrpc.listFlights("127.0.0.1", port).contains("fg_sql"))
      val unknown = intercept[Exception](
        FlightGrpc.doAction("127.0.0.1", port, "nope", "x"))
      assert(unknown.getMessage.contains("unknown action"))
    } finally server.close()
  }

  test("GetFlightInfo endpoints: one per partition, parallel DoGet " +
      "equals single-ticket order") {
    val server = new FlightGrpc.Server(spark).start()
    try {
      val port = server.boundPort
      spark.range(1, 1001).toDF("v").repartition(7)
        .createOrReplaceTempView("fg_parts")
      val (st, endpoints) =
        FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_parts")
      assert(st.fieldNames.toSeq === Seq("v"))
      assert(endpoints.size === 7)
      val (parallel, _) =
        FlightGrpc.doGetParallel("127.0.0.1", port, "fg_parts", 4)
      val (single, _) = FlightGrpc.doGet("127.0.0.1", port, "fg_parts")
      assert(parallel.map(_.getLong(0)) === single.map(_.getLong(0)))
      assert(parallel.map(_.getLong(0)).sorted === (1L to 1000L))
      // one endpoint alone returns a strict subset
      val (p0, _) = FlightGrpc.doGet("127.0.0.1", port, endpoints.head)
      assert(p0.nonEmpty && p0.size < 1000)
      // SQL (CMD) tickets get endpoints too
      val (_, sqlEndpoints) = FlightGrpc.getFlightInfo("127.0.0.1", port,
        "SELECT v % 13 AS m, COUNT(*) AS c FROM fg_parts GROUP BY v % 13")
      assert(sqlEndpoints.nonEmpty)
    } finally server.close()
  }

  test("GetFlightInfo pins one plan generation over gRPC: endpoint " +
      "DoGets see the info-time dataset even after the view is replaced") {
    val sp = spark; import sp.implicits._
    val server = new FlightGrpc.Server(spark).start()
    try {
      val port = server.boundPort
      Seq(1L, 2L, 3L).toDF("v").repartition(2)
        .createOrReplaceTempView("fg_pin")
      val (_, endpoints) =
        FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_pin")
      assert(endpoints.size == 2)
      // a concurrent writer replaces the view BETWEEN GetFlightInfo
      // and the endpoint pulls — the classic parallel-consumer race
      Seq(100L, 200L).toDF("v").createOrReplaceTempView("fg_pin")
      val got = endpoints.flatMap(e =>
        FlightGrpc.doGet("127.0.0.1", port, e)._1).map(_.getLong(0)).sorted
      assert(got == Seq(1L, 2L, 3L),
        s"endpoints mixed plan generations: $got")
      // an un-pinned by-name ticket resolves the NEW view
      val (fresh, _) = FlightGrpc.doGet("127.0.0.1", port, "fg_pin")
      assert(fresh.map(_.getLong(0)).sorted == Seq(100L, 200L))
    } finally server.close()
  }

  test("endpoint DoGet streams a multi-batch partition queue-fed: " +
      "resident rows stay O(one batch), order preserved") {
    val server = new FlightGrpc.Server(spark).start()
    try {
      val port = server.boundPort
      // ONE partition, ~10 IPC batches — the r12 shape that used to be
      // collected as a whole Array[Row] on the driver
      val n = 10 * graft.ops.Ipc.BatchRows
      spark.range(0, n).toDF("v").coalesce(1)
        .createOrReplaceTempView("fg_big")
      val (_, endpoints) =
        FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_big")
      assert(endpoints.size === 1)
      val (got, _) = FlightGrpc.doGet("127.0.0.1", port, endpoints.head)
      assert(got.size === n)
      assert(got.map(_.getLong(0)) === (0L until n.toLong))
      // the heap-ceiling contract: queue (capacity 1 batch) plus the
      // batch the writer is draining — never the 40960-row partition
      val hw = FlightGrpc.PartitionFeed.lastHighWater
      assert(hw > 0, "feed accounting never engaged")
      assert(hw <= 2 * graft.ops.Ipc.BatchRows,
        s"serving path held $hw rows resident (> 2 batches)")
      // the single-ticket DoGet of the same view arrives whole too
      val (whole, _) = FlightGrpc.doGet("127.0.0.1", port, "fg_big")
      assert(whole.size === n)
      assert(whole.map(_.getLong(0)).sum === n.toLong * (n - 1) / 2)
    } finally server.close()
  }

  test("endpoint DoGet cross-JVM fallback (registry hidden from tasks): " +
      "compressed-chunk path serves identical rows, still batch-bounded") {
    val server = new FlightGrpc.Server(spark).start()
    FlightGrpc.PartitionFeed.simulateRemoteTasks = true
    try {
      val port = server.boundPort
      val n = 5 * graft.ops.Ipc.BatchRows
      spark.range(0, n).toDF("v").coalesce(1)
        .createOrReplaceTempView("fg_remote")
      val (_, endpoints) =
        FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_remote")
      val (got, _) = FlightGrpc.doGet("127.0.0.1", port, endpoints.head)
      assert(got.size === n)
      assert(got.map(_.getLong(0)) === (0L until n.toLong))
      // the feeder decodes chunks one at a time through the same queue
      val hw = FlightGrpc.PartitionFeed.lastHighWater
      assert(hw > 0 && hw <= 2 * graft.ops.Ipc.BatchRows, s"resident $hw")
      // a task-side failure still surfaces as a gRPC error through the
      // feeder's Err path
      val boom = org.apache.spark.sql.functions.udf((v: Long) =>
        if (v > 100) throw new RuntimeException("endpoint boom") else v)
      spark.range(0, 1000).toDF("v").coalesce(1)
        .select(boom(org.apache.spark.sql.functions.col("v")).as("v"))
        .createOrReplaceTempView("fg_eboom")
      val (_, eps) = FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_eboom")
      val e = intercept[Exception](
        FlightGrpc.doGet("127.0.0.1", port, eps.head))
      assert(e.getMessage.contains("INTERNAL") ||
        e.getMessage.contains("boom"))
    } finally {
      FlightGrpc.PartitionFeed.simulateRemoteTasks = false
      server.close()
    }
  }

  test("DoGet stall-abort: an undrained endpoint stream is torn down " +
      "after drainStallMs, freeing its task slot and feed") {
    val server = new FlightGrpc.Server(spark).start()
    val saved = FlightGrpc.drainStallMs
    FlightGrpc.drainStallMs = 1500
    try {
      val port = server.boundPort
      // one partition, ~10 IPC batches of ~4 MB each — far beyond any
      // HTTP/2 flow-control window (grpc-netty auto-tunes to low MBs),
      // so an undrained client makes the stream non-ready
      val n = 10 * graft.ops.Ipc.BatchRows
      spark.range(0, n).toDF("v")
        .withColumn("pad", org.apache.spark.sql.functions.lit("x" * 1024))
        .coalesce(1).createOrReplaceTempView("fg_stall")
      val (_, eps) = FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_stall")
      val err = FlightGrpc.doGetStall("127.0.0.1", port, eps.head,
        pullFrames = 1, holdMs = 8000)
      assert(err.isDefined, "stalled stream was not aborted")
      val msg = err.get.getMessage
      assert(msg.toLowerCase.contains("stall") || msg.contains("INTERNAL"), msg)
      // the serving feed is gone — the blocked task aborted, its slot
      // is free, and the context stays healthy for other work
      val dl = System.currentTimeMillis() + 10000
      while (FlightGrpc.PartitionFeed.activeFeeds > 0 &&
        System.currentTimeMillis() < dl) Thread.sleep(50)
      assert(FlightGrpc.PartitionFeed.activeFeeds == 0)
      assert(spark.range(100).count() === 100L)
      // a well-behaved client on the same server still round-trips
      val (_, eps2) = FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_stall")
      val (got, _) = FlightGrpc.doGet("127.0.0.1", port, eps2.head)
      assert(got.size === n)
    } finally {
      FlightGrpc.drainStallMs = saved
      server.close()
    }
  }

  test("feeder-stall abort honors the per-server drain-stall override: " +
      "a partition that computes past the ceiling frees the serving " +
      "thread instead of parking it on the queue") {
    // override 1.5 s on THIS instance; the process-wide default stays
    // 120 s, so an abort inside a few seconds proves both the override
    // plumbing and the poll-not-take() consumer (the old take() would
    // park until the slow task's first batch arrived)
    val server = new FlightGrpc.Server(spark,
      drainStallOverrideMs = Some(1500)).start()
    try {
      val port = server.boundPort
      val slow = org.apache.spark.sql.functions.udf((v: Long) => {
        if (v == 0) Thread.sleep(6000); v
      })
      spark.range(0, 10).toDF("v").coalesce(1)
        .select(slow(org.apache.spark.sql.functions.col("v")).as("v"))
        .createOrReplaceTempView("fg_slowfeed")
      val (_, eps) = FlightGrpc.getFlightInfo("127.0.0.1", port, "fg_slowfeed")
      val t0 = System.currentTimeMillis()
      val e = intercept[Exception](
        FlightGrpc.doGet("127.0.0.1", port, eps.head))
      val elapsed = System.currentTimeMillis() - t0
      assert(e.getMessage.toLowerCase.contains("stall") ||
        e.getMessage.contains("INTERNAL"), e.getMessage)
      assert(elapsed < 5000,
        s"abort took ${elapsed}ms — the 1500ms override was not honored")
      // the feed unregisters and the context stays healthy once the
      // slow task drains
      val dl = System.currentTimeMillis() + 15000
      while (FlightGrpc.PartitionFeed.activeFeeds > 0 &&
        System.currentTimeMillis() < dl) Thread.sleep(50)
      assert(FlightGrpc.PartitionFeed.activeFeeds == 0)
      assert(spark.range(100).count() === 100L)
    } finally server.close()
  }

  test("auth: handshake exchanges credential for bearer; every verb " +
      "refuses without it; wrong credential rejected") {
    val server = new FlightGrpc.Server(spark, authSecret = Some("s3cr3t")).start()
    try {
      val port = server.boundPort
      val token = FlightGrpc.handshake("127.0.0.1", port, "s3cr3t")
      assert(token.nonEmpty)
      // wrong credential → UNAUTHENTICATED
      val e1 = intercept[Exception](
        FlightGrpc.handshake("127.0.0.1", port, "wrong"))
      assert(e1.getMessage.toLowerCase.contains("unauthenticated"))
      // token-less calls refused BEFORE any work
      val e2 = intercept[Exception](
        FlightGrpc.listFlights("127.0.0.1", port))
      assert(e2.getMessage.toLowerCase.contains("unauthenticated"))
      val e3 = intercept[Exception](FlightGrpc.doPut("127.0.0.1", port,
        "fg_auth", rows, schema, token = "bogus"))
      assert(e3.getMessage.toLowerCase.contains("unauthenticated"))
      // a forged token is refused on every verb, not only DoPut
      val forged = "0" * 32
      val e4 = intercept[Exception](
        FlightGrpc.doGet("127.0.0.1", port, "SELECT 1", token = forged))
      assert(e4.getMessage.toLowerCase.contains("unauthenticated"))
      val e5 = intercept[Exception](FlightGrpc.doAction("127.0.0.1", port,
        "clear_cache", token = forged))
      assert(e5.getMessage.toLowerCase.contains("unauthenticated"))
      // with the token everything works
      assert(FlightGrpc.doPut("127.0.0.1", port, "fg_auth", rows, schema,
        token = token) === 3)
      assert(FlightGrpc.listFlights("127.0.0.1", port, token = token)
        .contains("fg_auth"))
      assert(FlightGrpc.doAction("127.0.0.1", port, "row_count", "fg_auth",
        token = token) === "3")
      // the composite client carries the token through GetFlightInfo
      // and every endpoint DoGet
      val noTok = intercept[Exception](
        FlightGrpc.doGetParallel("127.0.0.1", port, "fg_auth"))
      assert(noTok.getMessage.toLowerCase.contains("unauthenticated"))
      assert(FlightGrpc.doGetParallel("127.0.0.1", port, "fg_auth",
        token = token)._1.map(_.getLong(0)).sorted === Seq(1L, 2L, 3L))
    } finally server.close()
    // an open server accepts any credential with a stable token per
    // credential
    val open = new FlightGrpc.Server(spark).start()
    try {
      val t1 = FlightGrpc.handshake("127.0.0.1", open.boundPort, "anything")
      assert(t1.matches("[0-9a-f]{32}"), s"unexpected token shape: $t1")
      assert(FlightGrpc.handshake("127.0.0.1", open.boundPort, "anything") == t1)
      assert(FlightGrpc.handshake("127.0.0.1", open.boundPort, "other") != t1)
    } finally open.close()
  }

  test("mid-stream query failure surfaces as a gRPC status error, " +
      "never as silent partial rows") {
    val server = new FlightGrpc.Server(spark).start()
    try {
      val port = server.boundPort
      // a plan that fails at EXECUTION time (a UDF throw), after
      // planning succeeded
      val boom = org.apache.spark.sql.functions.udf((v: Long) =>
        if (v > 500) throw new RuntimeException("mid-stream boom") else v)
      spark.range(1, 1001).toDF("v").repartition(4)
        .select(boom(org.apache.spark.sql.functions.col("v")).as("v"))
        .createOrReplaceTempView("fg_boom")
      val e = intercept[Exception](
        FlightGrpc.doGet("127.0.0.1", port, "fg_boom"))
      assert(e.getMessage.contains("INTERNAL") ||
        e.getMessage.contains("boom"))
      // planning-time failures too
      val e2 = intercept[Exception](
        FlightGrpc.doGet("127.0.0.1", port, "SELECT * FROM nope_xyz"))
      assert(e2.getMessage.nonEmpty)
      // and a syntax error; the server keeps serving afterwards
      val e3 = intercept[Exception](
        FlightGrpc.doGet("127.0.0.1", port, "SELECT FROM nope("))
      assert(e3.getMessage.nonEmpty)
      FlightGrpc.doPut("127.0.0.1", port, "fg_after", rows, schema)
      assert(FlightGrpc.doGet("127.0.0.1", port, "fg_after")._1.size === 3)
    } finally server.close()
  }

  // ---- the interop gate: a stock pyarrow.flight client --------------------

  private def pythonWithFlight: Option[String] =
    Seq("python3", "python").find { py =>
      try {
        val p = new ProcessBuilder(py, "-c", "import pyarrow.flight")
          .redirectErrorStream(true).start()
        p.waitFor() == 0
      } catch { case _: Throwable => false }
    }

  test("STOCK pyarrow.flight client: every verb against the live server " +
      "(skips when python3/pyarrow.flight is absent)") {
    val py = pythonWithFlight.getOrElse {
      cancel("no python3 with pyarrow.flight on this machine")
    }
    val server = new FlightGrpc.Server(spark).start()
    try {
      val proc = new ProcessBuilder(py, "tools/flight_grpc_check.py",
        server.boundPort.toString)
        .directory(new java.io.File(sys.props("user.dir")))
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes())
      val code = proc.waitFor()
      info(out.linesIterator.map("  " + _).mkString("\n"))
      assert(code === 0, s"pyarrow interop failed:\n$out")
      assert(out.contains("PYFLIGHT_INTEROP_ALL_OK"))
    } finally server.close()
  }

  test("STOCK pyarrow.flight client with basic-token auth " +
      "(skips when python3/pyarrow.flight is absent)") {
    val py = pythonWithFlight.getOrElse {
      cancel("no python3 with pyarrow.flight on this machine")
    }
    val server =
      new FlightGrpc.Server(spark, authSecret = Some("pw42")).start()
    try {
      val proc = new ProcessBuilder(py, "tools/flight_grpc_check.py",
        server.boundPort.toString, "anyuser", "pw42")
        .directory(new java.io.File(sys.props("user.dir")))
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes())
      val code = proc.waitFor()
      info(out.linesIterator.map("  " + _).mkString("\n"))
      assert(code === 0, s"pyarrow basic-auth interop failed:\n$out")
      assert(out.contains("PYFLIGHT_INTEROP_ALL_OK"))
    } finally server.close()
  }

  test("tensor! DoGet carries one Arrow Tensor message end to end") {
    val server = new FlightGrpc.Server(spark).start()
    try {
      val port = server.boundPort
      spark.range(0, 12).selectExpr("CAST(id AS DOUBLE) AS x")
        .createOrReplaceTempView("fg_tensor_src")
      val sql = "SELECT collect_list(x) AS data, array(3L, 4L) AS shape " +
        "FROM (SELECT x FROM fg_tensor_src ORDER BY x)"
      val t = FlightGrpc.doGetTensor("127.0.0.1", port, sql)
      assert(t.shape == Seq(3L, 4L))
      assert(t.data.toSeq == (0 until 12).map(_.toDouble))
      // a multi-row result refuses loudly instead of guessing
      val e = intercept[Exception](FlightGrpc.doGetTensor("127.0.0.1", port,
        "SELECT array(x) AS data, array(1L) AS shape FROM fg_tensor_src"))
      assert(e.getMessage.contains("exactly 1 row") ||
        e.getMessage.contains("INTERNAL"))
      // a tensor over the Flight message cap refuses loudly BY SIZE —
      // the single-message Tensor format cannot ride MessageSplitter,
      // and the client's anonymous oversized-frame rejection would
      // name neither the tensor nor the cap (~67 MB > the 64 MiB cap)
      val big = intercept[Exception](FlightGrpc.doGetTensor("127.0.0.1",
        port, "SELECT array_repeat(0.0d, 8500000) AS data, " +
          "array(8500000L) AS shape"))
      assert(big.getMessage.contains("message cap") ||
        big.getMessage.contains("INTERNAL"), big.getMessage)
      // the sparse twin: one SparseTensor message end to end — a
      // [2, 3] COO with entries at (0,1)=5.5 and (1,2)=-2.25
      val st = FlightGrpc.doGetSparseTensor("127.0.0.1", port,
        "SELECT array(2L, 3L) AS shape, array(0L, 1L, 1L, 2L) AS indices, " +
          "array(5.5d, -2.25d) AS values")
      assert(st.shape == Seq(2L, 3L) && st.isCanonical)
      assert(st.indices.toSeq == Seq(0L, 1L, 1L, 2L))
      assert(st.values.toSeq == Seq(5.5, -2.25))
      // multi-row refuses loudly here too
      val eS = intercept[Exception](FlightGrpc.doGetSparseTensor(
        "127.0.0.1", port,
        "SELECT array(1L) AS shape, array(0L) AS indices, " +
          "array(x) AS values FROM fg_tensor_src"))
      assert(eS.getMessage.contains("exactly 1 row") ||
        eS.getMessage.contains("INTERNAL"))
    } finally server.close()
  }

  test("oracle query shape: qFlightGrpcRoundtrip returns the nation " +
      "aggregate") {
    val df = FlightGrpc.qFlightGrpcRoundtrip(spark, sfDir)
    val got = df.collect()
    assert(got.nonEmpty)
    assert(df.schema.fieldNames.toSeq ===
      Seq("n_regionkey", "n", "first_name", "max_key"))
    // both registry keys serve the same rows under the same oracle SQL
    assert(SparkEntry.queries("flight_roundtrip")(spark, sfDir)
      .collect().toSeq === got.toSeq)
    assert(SparkEntry.oracleSql("flight_roundtrip") ===
      SparkEntry.oracleSql("flight_grpc"))
  }
}
