package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import org.sparkproject.connect.grpc.{CallOptions, Channel, ClientCall, ClientInterceptor, ClientInterceptors, Context, Contexts, ForwardingClientCall, ForwardingServerCall, Metadata, MethodDescriptor, Server => GrpcServer, ServerCall, ServerCallHandler, ServerInterceptor, ServerInterceptors, ServerServiceDefinition, Status, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.{NettyChannelBuilder, NettyServerBuilder}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCallStreamObserver, ServerCalls, StreamObserver}

import FlightProto._

/** TRUE gRPC Arrow Flight transport — the reference's FlightService
  * (`format/Flight.proto:38-160`) served over real gRPC/HTTP-2, so a
  * STOCK Flight client (e.g. pyarrow.flight) connects with no custom
  * code on its side. It is the engine's one Flight transport, and its
  * data plane is the engine's own Arrow IPC stream codec.
  *
  * Transport: the gRPC runtime shaded inside the Spark distribution's
  * connect module (`org.sparkproject.connect.grpc`, a public Apache
  * Spark artifact already on the engine's classpath) riding the
  * platform Netty. Shading renames Java packages only — the WIRE
  * protocol is stock gRPC, which is what `FlightGrpcSpec`'s pyarrow
  * interop test proves end to end. The Flight protobuf messages are
  * encoded by [[FlightProto]] (hand-rolled wire codec; the
  * environment has no protoc and no arrow-flight jar).
  *
  * Verbs — all 8 of the reference's proto (view-name PATH tickets vs
  * SQL CMD tickets, DoPut-into-temp-view, the 3-action command
  * surface):
  * Handshake, ListFlights, GetFlightInfo (+ one endpoint per
  * partition of the server-side plan, pinned to one plan generation),
  * GetSchema, DoGet, DoPut, DoAction, ListActions.
  *
  * Data plane: each DoGet/DoPut stream is the engine's own Arrow IPC
  * stream re-framed message-per-message into `FlightData` — header =
  * the encapsulated Message flatbuffer, body = the batch body, split
  * by [[FlightGrpc.MessageSplitter]] on the way out and re-framed by
  * [[FlightGrpc.collectFlightData]] on the way in (tolerant of both
  * prefixed and bare headers, since stock senders differ by vintage).
  * Mid-stream query failures surface as real gRPC status errors
  * (trailers), so no poison-frame convention is needed: every stock
  * client fails loudly by construction.
  *
  * Auth: a server built with an `authSecret` issues a deterministic
  * bearer token at Handshake (credential in the handshake payload, or
  * a stock client's `authorization: Basic` header — both checked
  * against the secret) and every other verb must present
  * `authorization: Bearer <token>` call metadata; unauthenticated
  * calls get UNAUTHENTICATED before any work runs.
  *
  * Scale note: a control/egress surface, not a distributed operator.
  * Single-ticket DoGet pulls through `toLocalIterator` (one partition
  * resident), endpoint tickets serve one partition each for parallel
  * consumers through [[PartitionFeed]] (O(one batch) resident in-JVM —
  * never an `Array[Row]` of the partition, so a skewed partition
  * cannot OOM the server), DoGet responses respect gRPC flow control
  * (the emit loop waits on `isReady`, so a slow client never buffers
  * the result on the server), and bulk interchange remains the
  * partition-parallel file/DSv2 sources.
  */
object FlightGrpc {

  private val EmptyBytes = Array.emptyByteArray
  private val Service = "arrow.flight.protocol.FlightService"

  private[graft] def bearerToken(credential: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(("graft-flight:" + credential).getBytes(UTF_8))
      .map("%02x".format(_)).mkString.take(32)

  // ---- method descriptors --------------------------------------------------

  private def marshaller[T](enc: T => Array[Byte],
      dec: Array[Byte] => T): MethodDescriptor.Marshaller[T] =
    new MethodDescriptor.Marshaller[T] {
      override def stream(value: T): InputStream =
        new ByteArrayInputStream(enc(value))
      override def parse(in: InputStream): T = dec(in.readAllBytes())
    }

  private def method[Req, Resp](name: String,
      mtype: MethodDescriptor.MethodType,
      reqM: MethodDescriptor.Marshaller[Req],
      respM: MethodDescriptor.Marshaller[Resp]): MethodDescriptor[Req, Resp] =
    MethodDescriptor.newBuilder[Req, Resp]()
      .setFullMethodName(s"$Service/$name")
      .setType(mtype)
      .setRequestMarshaller(reqM)
      .setResponseMarshaller(respM)
      .build()

  private val handshakeM = marshaller[Handshake](_.encode, Handshake.decode)
  private val criteriaM = marshaller[Criteria](_.encode, Criteria.decode)
  private val infoM = marshaller[FlightInfo](_.encode, FlightInfo.decode)
  private val descM =
    marshaller[FlightDescriptor](_.encode, FlightDescriptor.decode)
  private val schemaM = marshaller[SchemaResult](_.encode, SchemaResult.decode)
  private val ticketM = marshaller[Ticket](_.encode, Ticket.decode)
  private val dataM = marshaller[FlightData](_.encode, FlightData.decode)
  private val putM = marshaller[PutResult](_.encode, PutResult.decode)
  private val actionM = marshaller[Action](_.encode, Action.decode)
  private val resultM = marshaller[ActionResult](_.encode, ActionResult.decode)
  private val emptyM = marshaller[EmptyMsg](_.encode, EmptyMsg.decode)
  private val actionTypeM = marshaller[ActionType](_.encode, ActionType.decode)

  import MethodDescriptor.MethodType._
  private val HandshakeMd = method("Handshake", BIDI_STREAMING, handshakeM, handshakeM)
  private val ListFlightsMd = method("ListFlights", SERVER_STREAMING, criteriaM, infoM)
  private val GetFlightInfoMd = method("GetFlightInfo", UNARY, descM, infoM)
  private val GetSchemaMd = method("GetSchema", UNARY, descM, schemaM)
  private val DoGetMd = method("DoGet", SERVER_STREAMING, ticketM, dataM)
  private val DoPutMd = method("DoPut", BIDI_STREAMING, dataM, putM)
  private val DoActionMd = method("DoAction", SERVER_STREAMING, actionM, resultM)
  private val ListActionsMd = method("ListActions", SERVER_STREAMING, emptyM, actionTypeM)

  private val AuthKey: Metadata.Key[String] =
    Metadata.Key.of("authorization", Metadata.ASCII_STRING_MARSHALLER)

  /** Set by the AuthInterceptor when a Handshake call arrived with a
    * VALID `authorization: Basic` header — the handler must otherwise
    * refuse a message-less handshake on a secret-bearing server. */
  private val BasicAuthedKey: Context.Key[java.lang.Boolean] =
    Context.key("graft-flight-basic-authed")

  // ---- data plane ----------------------------------------------------------

  /** OutputStream that parses the Arrow IPC STREAM framing
    * incrementally and emits one [[FlightProto.FlightData]] per
    * encapsulated message (schema, dictionary, or record batch):
    * header = the Message flatbuffer (bare, per the Flight spec
    * comment on `data_header`), body = the batch body. Feeding
    * [[Ipc.writeIpcStreamTo]] into this is the whole server-side
    * DoGet data plane — one batch resident at a time, the codec
    * (including its compression support) reused verbatim. */
  final class MessageSplitter(emit: FlightData => Unit) extends OutputStream {
    private var buf = new Array[Byte](64 * 1024)
    private var len = 0

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(src: Array[Byte], off: Int, n: Int): Unit = {
      if (len + n > buf.length) {
        var cap = buf.length
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
      System.arraycopy(src, off, buf, len, n)
      len += n
      drain()
    }

    private def intBE(p: Int): Int =
      ((buf(p) & 0xff) << 24) | ((buf(p + 1) & 0xff) << 16) |
        ((buf(p + 2) & 0xff) << 8) | (buf(p + 3) & 0xff)
    private def intLE(p: Int): Int = Integer.reverseBytes(intBE(p))

    private def drain(): Unit = {
      var pos = 0
      var more = true
      while (more) {
        more = false
        if (len - pos >= 8) {
          if (intBE(pos) != -1)
            throw new java.io.IOException(
              "IPC framing: expected continuation marker 0xFFFFFFFF")
          val metaLen = intLE(pos + 4)
          if (metaLen == 0) { pos += 8; more = true } // EOS marker
          else if (len - pos - 8 >= metaLen) {
            val header =
              java.util.Arrays.copyOfRange(buf, pos + 8, pos + 8 + metaLen)
            val bodyLen = org.apache.arrow.flatbuf.Message
              .getRootAsMessage(ByteBuffer.wrap(header)).bodyLength().toInt
            if (len - pos - 8 - metaLen >= bodyLen) {
              val body = java.util.Arrays.copyOfRange(
                buf, pos + 8 + metaLen, pos + 8 + metaLen + bodyLen)
              emit(FlightData(None, header, EmptyBytes, body))
              pos += 8 + metaLen + bodyLen
              more = true
            }
          }
        }
      }
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, len - pos)
        len -= pos
      }
    }
  }

  /** Strip the optional 8-byte continuation+length encapsulation from
    * a `data_header` — stock senders differ: the spec says bare
    * flatbuffer, some implementations send the prefixed form. */
  private def bareHeader(h: Array[Byte]): Array[Byte] =
    if (h.length >= 8 && h(0) == -1 && h(1) == -1 && h(2) == -1 && h(3) == -1) {
      val metaLen = Integer.reverseBytes(
        ((h(4) & 0xff) << 24) | ((h(5) & 0xff) << 16) |
          ((h(6) & 0xff) << 8) | (h(7) & 0xff))
      java.util.Arrays.copyOfRange(h, 8, math.min(h.length, 8 + metaLen))
    } else h

  /** Re-frame a FlightData sequence into an Arrow IPC stream and read
    * it with the engine codec — the receive half for client DoGet and
    * server DoPut. Dictionary batches flow through untouched. */
  def collectFlightData(datas: Iterator[FlightData]): (Seq[Row], StructType) = {
    val bos = new ByteArrayOutputStream(64 * 1024)
    val out = new java.io.DataOutputStream(bos)
    datas.foreach { fd =>
      if (fd.dataHeader.nonEmpty) {
        val hdr = bareHeader(fd.dataHeader)
        val padded = ((hdr.length + 7) / 8) * 8
        out.writeInt(-1)
        out.writeInt(Integer.reverseBytes(padded))
        out.write(hdr)
        var i = hdr.length
        while (i < padded) { out.writeByte(0); i += 1 }
        out.write(fd.dataBody)
      }
    }
    out.writeInt(-1); out.writeInt(0) // EOS
    Ipc.readIpcStream(bos.toByteArray)
  }

  /** The prefixed IPC form of a schema (what `FlightInfo.schema` and
    * `SchemaResult.schema` carry per the proto comments). */
  private def prefixedSchemaBytes(schema: StructType): Array[Byte] = {
    val bos = new ByteArrayOutputStream(256)
    val ch = new WriteChannel(java.nio.channels.Channels.newChannel(bos))
    MessageSerializer.serialize(ch, Ipc.toArrowSchema(schema))
    bos.toByteArray
  }

  /** Parse a (possibly prefixed) schema blob back to a Spark schema by
    * replaying it as a rows-free IPC stream through the engine codec. */
  private[graft] def schemaOfBytes(schemaBytes: Array[Byte]): StructType = {
    val hdr = bareHeader(schemaBytes)
    val (_, schema) = collectFlightData(
      Iterator.single(FlightData(None, hdr, EmptyBytes, EmptyBytes)))
    schema
  }

  /** Ceiling on how long a DoGet waits for a non-ready (undrained)
    * client before aborting the stream. Without it, an opened-but-
    * undrained endpoint stream pins its serving thread AND (via the
    * capacity-1 [[PartitionFeed]] backpressure chain) one Spark task
    * slot indefinitely — k stalled streams on local[k] would starve
    * the whole SparkContext. Aborting tears the feed down, which
    * frees the task (putOrAbort aborts) and surfaces a loud gRPC
    * error to the stalled client. */
  @volatile private[graft] var drainStallMs: Long = 120000L

  /** Emit rows as FlightData onto a gRPC response observer, honoring
    * flow control: wait for `isReady` between messages so a slow
    * client bounds server memory at one batch — but never longer than
    * `stallMs` per message (the [[Server]]'s drain-stall ceiling). */
  private def streamRows(rows: Iterator[Row], schema: StructType,
      obs: StreamObserver[FlightData], stallMs: Long): Unit = {
    val sObs = obs match {
      case s: ServerCallStreamObserver[FlightData @unchecked] => s
      case _ => null
    }
    val splitter = new MessageSplitter(fd => {
      if (sObs != null) {
        val deadline = System.nanoTime() + stallMs * 1000000L
        while (!sObs.isReady && !sObs.isCancelled) {
          if (System.nanoTime() - deadline > 0)
            throw new java.io.IOException(
              s"DoGet client stalled: no drain progress in ${stallMs}ms" +
                " — aborting the stream to free its serving resources")
          Thread.sleep(1)
        }
        if (sObs.isCancelled)
          throw new java.io.IOException("DoGet cancelled by client")
      }
      obs.onNext(fd)
    })
    Ipc.writeIpcStreamTo(rows, schema, splitter)
  }

  // ---- endpoint partition streaming -----------------------------------------

  /** Queue-fed endpoint streaming: a DoGet for ticket "pin#p" must not
    * materialize partition p on the driver (the old shape collected it
    * via `it.toArray`, so one skewed partition could OOM the server).
    * Task and serving thread rendezvous through this registry:
    *
    *  - the serving thread registers a capacity-1 queue under a fresh
    *    key and launches the single-partition job on a feeder thread;
    *  - the TASK looks the key up. Found — the task runs in the
    *    server's own JVM, the local[n] deployment this transport ships
    *    in — it pushes [[Ipc.BatchRows]]-row batches through the queue
    *    with backpressure (`offer` blocks at capacity, chaining gRPC
    *    flow control all the way into the task's input iterator).
    *    Absent — a cluster executor in another JVM — it falls back to
    *    returning the partition as ZSTD-compressed Arrow IPC chunks,
    *    one compact columnar blob per batch instead of an
    *    `Array[Row]`, which the feeder thread then decodes and
    *    enqueues one batch at a time.
    *
    * Serving-side residency is therefore O(one batch) of rows in-JVM
    * and O(compressed partition bytes) cross-JVM. `highWater` is the
    * most rows seen resident at once: the batch waiting in the queue
    * plus the rows the DoGet writer holds (`drainingRows`, which only
    * the writer's thread changes). Both sides sample it — the producer
    * after each `offer`, the consumer on receiving each batch — so
    * every served batch is counted whichever side gets to it first.
    * `lastHighWater` publishes the per-stream maximum for the spec's
    * heap-ceiling assert. */
  private[graft] object PartitionFeed {
    sealed trait Msg
    final case class RowBatch(rows: Array[Row]) extends Msg
    case object End extends Msg
    final case class Err(e: Throwable) extends Msg

    final class Feed {
      val queue = new java.util.concurrent.ArrayBlockingQueue[Msg](1)
      @volatile var closed = false
      @volatile var drainingRows = 0
      val highWater = new java.util.concurrent.atomic.AtomicInteger(0)
      def sampleResident(): Unit = {
        val queued = queue.peek() match {
          case RowBatch(rows) => rows.length
          case _ => 0
        }
        highWater.getAndAccumulate(drainingRows + queued,
          (a: Int, b: Int) => math.max(a, b))
      }
      /** Blocking put that aborts (instead of hanging the task or the
        * feeder forever) once the consumer has torn the feed down —
        * e.g. the gRPC client cancelled mid-stream. */
      def putOrAbort(m: Msg): Unit = {
        var in = false
        while (!in) {
          if (closed) throw new java.io.IOException(
            "DoGet consumer closed the partition feed")
          in = queue.offer(m, 50, TimeUnit.MILLISECONDS)
        }
        sampleResident()
      }
    }

    private val feeds =
      new java.util.concurrent.ConcurrentHashMap[String, Feed]()
    /** Test hook: hides the registry from tasks, forcing the cross-JVM
      * compressed-chunk fallback even under local[n]. */
    @volatile private[graft] var simulateRemoteTasks = false
    /** High-water mark of the most recently completed feed (rows
      * resident on the serving side at once) — spec observability. */
    @volatile private[graft] var lastHighWater = 0
    /** Live feed count — spec observability for the stall-abort
      * teardown (a stalled stream must not leave a feed registered). */
    private[graft] def activeFeeds: Int = feeds.size

    def register(key: String): Feed = {
      val f = new Feed; feeds.put(key, f); f
    }
    def remove(key: String): Unit = Option(feeds.remove(key)).foreach { f =>
      lastHighWater = f.highWater.get()
    }
    def lookup(key: String): Feed =
      if (simulateRemoteTasks) null else feeds.get(key)
  }

  /** Task side of [[PartitionFeed]]: stream batches through the
    * registry when the server's JVM is reachable, else encode them as
    * compressed IPC chunks for the task result. Lives on the
    * companion so the closure captures only (key, schema). */
  private def feedOrEncode(key: String, schema: StructType,
      it: Iterator[Row]): Array[Array[Byte]] = {
    val feed = PartitionFeed.lookup(key)
    if (feed != null) {
      it.grouped(Ipc.BatchRows).foreach { g =>
        feed.putOrAbort(PartitionFeed.RowBatch(g.toArray))
      }
      Array.empty
    } else {
      it.grouped(Ipc.BatchRows).map { g =>
        val bos = new ByteArrayOutputStream(64 * 1024)
        Ipc.writeIpcStreamTo(g.iterator, schema, bos, "zstd")
        bos.toByteArray
      }.toArray
    }
  }

  /** Serve one partition of `df` as a DoGet stream with O(one batch)
    * serving-side row residency (see [[PartitionFeed]]). */
  private def streamPartition(spark: SparkSession, df: DataFrame, p: Int,
      obs: StreamObserver[FlightData], stallMs: Long): Unit = {
    val key = UUID.randomUUID().toString
    val feed = PartitionFeed.register(key)
    val schema = df.schema
    val rdd = df.rdd
    val feeder = new Thread(() => {
      try {
        val chunks = spark.sparkContext.runJob(rdd,
          (it: Iterator[Row]) => feedOrEncode(key, schema, it), Seq(p)).head
        // cross-JVM fallback: decode the task's compressed chunks one
        // batch at a time (in-JVM streaming returns an empty array —
        // its batches already went through the queue inside the task)
        chunks.foreach { c =>
          val (rows, _) = Ipc.readIpcStream(c)
          feed.putOrAbort(PartitionFeed.RowBatch(rows.toArray))
        }
        feed.putOrAbort(PartitionFeed.End)
      } catch {
        case e: Throwable =>
          try feed.putOrAbort(PartitionFeed.Err(e))
          catch { case _: Throwable => () } // consumer already gone
      }
    }, s"flight-doget-feeder-$key")
    feeder.setDaemon(true)
    try {
      feeder.start()
      val sObs = obs match {
        case s: ServerCallStreamObserver[FlightData @unchecked] => s
        case _ => null
      }
      val rowIt = new Iterator[Row] {
        private var cur: Iterator[Row] = Iterator.empty
        private var curSize = 0
        private var done = false
        // poll, never take(): a client that cancels (or vanishes)
        // while the feeder's job is still queued or computing must
        // free this serving thread immediately, and a feeder that
        // produces no batch inside the same stall ceiling the drain
        // side uses is torn down rather than parking the thread on a
        // hung task forever
        private def nextMsg(): PartitionFeed.Msg = {
          val deadline = System.nanoTime() + stallMs * 1000000L
          var msg: PartitionFeed.Msg = null
          while (msg == null) {
            if (sObs != null && sObs.isCancelled)
              throw new java.io.IOException("DoGet cancelled by client")
            if (System.nanoTime() - deadline > 0)
              throw new java.io.IOException(
                s"DoGet feeder stalled: no batch in ${stallMs}ms — " +
                  "aborting the stream to free its serving resources")
            msg = feed.queue.poll(50, TimeUnit.MILLISECONDS)
          }
          msg
        }
        private def advance(): Unit =
          while (!done && !cur.hasNext) {
            // release the drained batch BEFORE waiting for the next: the
            // feeder enqueues another batch as soon as this poll empties
            // the queue, and the drained one must not be held (or
            // counted) beside those two
            feed.drainingRows -= curSize
            cur = Iterator.empty; curSize = 0
            nextMsg() match {
              case PartitionFeed.RowBatch(rows) =>
                cur = rows.iterator; curSize = rows.length
                feed.drainingRows += curSize
                feed.sampleResident()
              case PartitionFeed.End => done = true
              case PartitionFeed.Err(e) => throw e
            }
          }
        override def hasNext: Boolean = { advance(); !done }
        override def next(): Row = { advance(); cur.next() }
      }
      streamRows(rowIt, schema, obs, stallMs)
    } finally {
      feed.closed = true
      feed.queue.clear()
      PartitionFeed.remove(key)
    }
  }

  // ---- server ---------------------------------------------------------------

  /** DoGet liveness contract (public surface): a stream aborts with a
    * loud gRPC error when the CLIENT stops draining for more than the
    * drain-stall ceiling between messages, or when the serving feeder
    * produces no batch within the same ceiling — the ceiling is
    * `drainStallOverrideMs` when given, else the process-wide
    * [[FlightGrpc.drainStallMs]] (default 120 s, read per call so it
    * can be tuned live). Deployments whose clients legitimately pause
    * longer between reads (expensive per-batch processing) or whose
    * partitions compute longer before the first batch should raise
    * the override on THEIR server instance instead of the global. */
  final class Server(spark: SparkSession, port: Int = 0,
      authSecret: Option[String] = None,
      drainStallOverrideMs: Option[Long] = None) extends AutoCloseable {

    private def stallMs: Long =
      drainStallOverrideMs.getOrElse(FlightGrpc.drainStallMs)

    // GetFlightInfo-pinned plans: all endpoint DoGets of one info call
    // read ONE plan generation (bounded at 64)
    private val pinned = new java.util.LinkedHashMap[String, DataFrame]()

    private def resolve(ticket: String): DataFrame = {
      val isView =
        try spark.catalog.tableExists(ticket)
        catch { case _: Throwable => false }
      if (isView) spark.table(ticket) else spark.sql(ticket)
    }

    private def descriptorName(d: FlightDescriptor): String =
      if (d.descType == FlightDescriptor.PATH && d.path.nonEmpty) d.path.head
      else d.cmdUtf8

    private def grpcError(e: Throwable): StatusRuntimeException = e match {
      case s: StatusRuntimeException => s
      case _ => Status.INTERNAL
        .withDescription(String.valueOf(e.getMessage)).asRuntimeException()
    }

    private def infoOf(ticketStr: String, desc: FlightDescriptor): FlightInfo = {
      val df = resolve(ticketStr)
      val parts = df.rdd.getNumPartitions
      val pin = s"pin-${UUID.randomUUID()}"
      pinned.synchronized {
        pinned.put(pin, df)
        while (pinned.size() > 64) {
          val it = pinned.keySet().iterator(); it.next(); it.remove()
        }
      }
      val loc = Location(s"grpc+tcp://127.0.0.1:$boundPort")
      FlightInfo(
        schema = prefixedSchemaBytes(df.schema),
        descriptor = Some(desc),
        endpoints = (0 until parts)
          .map(p => FlightEndpoint(Ticket.of(s"$pin#$p"), Seq(loc))),
        totalRecords = 0L, totalBytes = 0L)
    }

    private val handshakeImpl =
      new ServerCalls.BidiStreamingMethod[Handshake, Handshake] {
        override def invoke(obs: StreamObserver[Handshake]): StreamObserver[Handshake] =
          new StreamObserver[Handshake] {
            private var responded = false
            override def onNext(req: Handshake): Unit = {
              val credential = new String(req.payload, UTF_8)
              authSecret match {
                case Some(secret) if credential != secret =>
                  obs.onError(Status.UNAUTHENTICATED.withDescription(
                    "handshake rejected: invalid credentials").asRuntimeException())
                case _ =>
                  responded = true
                  obs.onNext(Handshake(
                    payload = bearerToken(credential).getBytes(UTF_8)))
              }
            }
            override def onError(t: Throwable): Unit = ()
            override def onCompleted(): Unit = {
              // a stock client authenticating via the Basic header
              // sends NO handshake messages: the AuthInterceptor
              // validated the header (flagging the Context) and
              // attached the Bearer response header; answer the empty
              // stream with the token in the payload too. A
              // message-less handshake WITHOUT a validated Basic
              // header must refuse on a secret-bearing server — it
              // presented no credential at all.
              if (!responded) authSecret match {
                case Some(secret) if BasicAuthedKey.get() != null &&
                    BasicAuthedKey.get().booleanValue() =>
                  obs.onNext(Handshake(
                    payload = bearerToken(secret).getBytes(UTF_8)))
                case Some(_) =>
                  obs.onError(Status.UNAUTHENTICATED.withDescription(
                    "handshake carried no credentials").asRuntimeException())
                  return
                case None =>
                  obs.onNext(Handshake(payload = bearerToken("").getBytes(UTF_8)))
              }
              obs.onCompleted()
            }
          }
      }

    private val listFlightsImpl =
      new ServerCalls.ServerStreamingMethod[Criteria, FlightInfo] {
        override def invoke(c: Criteria, obs: StreamObserver[FlightInfo]): Unit =
          try {
            spark.catalog.listTables().collect().map(_.name).sorted.foreach {
              name =>
                val df = spark.table(name)
                obs.onNext(FlightInfo(
                  schema = prefixedSchemaBytes(df.schema),
                  descriptor = Some(FlightDescriptor.forPath(name)),
                  endpoints = Seq(FlightEndpoint(Ticket.of(name), Nil))))
            }
            obs.onCompleted()
          } catch { case e: Throwable => obs.onError(grpcError(e)) }
      }

    private val getFlightInfoImpl =
      new ServerCalls.UnaryMethod[FlightDescriptor, FlightInfo] {
        override def invoke(d: FlightDescriptor, obs: StreamObserver[FlightInfo]): Unit =
          try {
            obs.onNext(infoOf(descriptorName(d), d)); obs.onCompleted()
          } catch { case e: Throwable => obs.onError(grpcError(e)) }
      }

    private val getSchemaImpl =
      new ServerCalls.UnaryMethod[FlightDescriptor, SchemaResult] {
        override def invoke(d: FlightDescriptor, obs: StreamObserver[SchemaResult]): Unit =
          try {
            obs.onNext(SchemaResult(
              prefixedSchemaBytes(resolve(descriptorName(d)).schema)))
            obs.onCompleted()
          } catch { case e: Throwable => obs.onError(grpcError(e)) }
      }

    private val doGetImpl =
      new ServerCalls.ServerStreamingMethod[Ticket, FlightData] {
        override def invoke(t: Ticket, obs: StreamObserver[FlightData]): Unit =
          try {
            val s = t.utf8
            // "tensor!<sql>": the query's single row (data array<double>,
            // shape array<bigint>) travels as ONE Arrow Tensor MESSAGE
            // (reference Message.fbs:92) — an engine-to-engine frame; a
            // record-batch client uses the normal tickets
            if (s.startsWith("tensor!")) {
              val df = spark.sql(s.stripPrefix("tensor!"))
              val di = df.schema.fieldIndex("data")
              val si = df.schema.fieldIndex("shape")
              val rows = df.collect() // control-plane: one tensor row
              require(rows.length == 1,
                s"tensor! query must return exactly 1 row, got ${rows.length}")
              val dt = TensorIpc.DenseTensor(
                rows(0).getSeq[Long](si),
                rows(0).getSeq[Double](di).toArray)
              val (meta, body) = TensorIpc.messageParts(dt)
              // the Arrow Tensor format is one message — it cannot ride
              // MessageSplitter, so an oversized tensor must refuse
              // LOUDLY (naming size and cap) instead of letting the
              // client's channel reject an anonymous oversized frame
              val frameBytes = meta.length.toLong + body.length
              require(frameBytes <= MaxMessageBytes - 1024,
                s"tensor! frame is $frameBytes bytes, over the Flight " +
                  s"message cap ($MaxMessageBytes); fetch large tensors " +
                  "through the IPC file/DSv2 surface instead")
              obs.onNext(FlightData(None, meta, EmptyBytes, body))
              obs.onCompleted()
              return
            }
            // "sparse_tensor!<sql>": one row (shape array<bigint>,
            // indices array<bigint> — the row-major nnz×ndim COO index
            // matrix — and values array<double>) as ONE SparseTensor
            // message (reference SparseTensor.fbs) — the sparse twin
            // of tensor!, same single-frame contract and refusals
            if (s.startsWith("sparse_tensor!")) {
              val df = spark.sql(s.stripPrefix("sparse_tensor!"))
              val rows = df.collect() // control-plane: one tensor row
              require(rows.length == 1,
                s"sparse_tensor! query must return exactly 1 row, got ${rows.length}")
              val r0 = rows(0)
              val st = TensorIpc.CooTensor(
                r0.getSeq[Long](df.schema.fieldIndex("shape")),
                r0.getSeq[Long](df.schema.fieldIndex("indices")).toArray,
                r0.getSeq[Double](df.schema.fieldIndex("values")).toArray)
              val (meta, body) = TensorIpc.messagePartsSparse(st)
              val frameBytes = meta.length.toLong + body.length
              require(frameBytes <= MaxMessageBytes - 1024,
                s"sparse_tensor! frame is $frameBytes bytes, over the " +
                  s"Flight message cap ($MaxMessageBytes); fetch large " +
                  "tensors through the IPC file/DSv2 surface instead")
              obs.onNext(FlightData(None, meta, EmptyBytes, body))
              obs.onCompleted()
              return
            }
            val hash = s.lastIndexOf('#')
            val pinnedDf =
              if (hash > 0)
                Option(pinned.synchronized(pinned.get(s.take(hash)))) else None
            pinnedDf match {
              case Some(df) =>
                // endpoint ticket "pin#p": exactly that partition,
                // queue-fed so the server never holds it as Array[Row]
                val p = s.drop(hash + 1).toInt
                streamPartition(spark, df, p, obs, stallMs)
              case None =>
                val df = resolve(s)
                streamRows(df.toLocalIterator().asScala, df.schema, obs,
                  stallMs)
            }
            obs.onCompleted()
          } catch { case e: Throwable => obs.onError(grpcError(e)) }
      }

    private val doPutImpl =
      new ServerCalls.BidiStreamingMethod[FlightData, PutResult] {
        override def invoke(obs: StreamObserver[PutResult]): StreamObserver[FlightData] =
          new StreamObserver[FlightData] {
            private val frames = Seq.newBuilder[FlightData]
            private var name: Option[String] = None
            override def onNext(fd: FlightData): Unit = {
              if (name.isEmpty) name = fd.descriptor.map(descriptorName)
              frames += fd
            }
            override def onError(t: Throwable): Unit = ()
            override def onCompleted(): Unit = try {
              val viewName = name.getOrElse(throw Status.INVALID_ARGUMENT
                .withDescription("DoPut stream carried no descriptor")
                .asRuntimeException())
              val (rows, schema) = collectFlightData(frames.result().iterator)
              spark.createDataFrame(
                spark.sparkContext.parallelize(rows,
                  math.max(1, rows.size / Ipc.BatchRows)),
                schema).createOrReplaceTempView(viewName)
              obs.onNext(PutResult.of(rows.size.toString))
              obs.onCompleted()
            } catch { case e: Throwable => obs.onError(grpcError(e)) }
          }
      }

    private val doActionImpl =
      new ServerCalls.ServerStreamingMethod[Action, ActionResult] {
        override def invoke(a: Action, obs: StreamObserver[ActionResult]): Unit =
          try {
            val body = new String(a.body, UTF_8)
            val result = a.actionType match {
              case "drop_view" => spark.catalog.dropTempView(body).toString
              case "row_count" => resolve(body).count().toString
              case "clear_cache" => spark.catalog.clearCache(); "ok"
              case other => throw Status.UNIMPLEMENTED
                .withDescription(s"unknown action: $other").asRuntimeException()
            }
            obs.onNext(ActionResult(result.getBytes(UTF_8)))
            obs.onCompleted()
          } catch { case e: Throwable => obs.onError(grpcError(e)) }
      }

    private val listActionsImpl =
      new ServerCalls.ServerStreamingMethod[EmptyMsg, ActionType] {
        override def invoke(e: EmptyMsg, obs: StreamObserver[ActionType]): Unit = {
          obs.onNext(ActionType("drop_view", "unregister the named temp view"))
          obs.onNext(ActionType("row_count", "rows in the named view/SQL ticket"))
          obs.onNext(ActionType("clear_cache", "uncache all cached tables"))
          obs.onCompleted()
        }
      }

    /** Per-call bearer enforcement + the Basic→Bearer upgrade on
      * Handshake (the stock `authenticate_basic_token` path). */
    private final class AuthInterceptor extends ServerInterceptor {
      override def interceptCall[ReqT, RespT](call: ServerCall[ReqT, RespT],
          headers: Metadata,
          next: ServerCallHandler[ReqT, RespT]): ServerCall.Listener[ReqT] = {
        val secret = authSecret match {
          case None => return next.startCall(call, headers)
          case Some(s) => s
        }
        val auth = Option(headers.get(AuthKey))
        val isHandshake =
          call.getMethodDescriptor.getFullMethodName.endsWith("/Handshake")
        if (isHandshake) {
          auth.filter(_.startsWith("Basic ")) match {
            case Some(basic) =>
              val decoded = new String(java.util.Base64.getDecoder
                .decode(basic.drop(6)), UTF_8)
              val pass = decoded.split(":", 2) match {
                case Array(_, p) => p
                case _ => ""
              }
              if (pass != secret) {
                call.close(Status.UNAUTHENTICATED.withDescription(
                  "handshake rejected: invalid credentials"), new Metadata())
                return new ServerCall.Listener[ReqT] {}
              }
              val upgraded =
                new ForwardingServerCall.SimpleForwardingServerCall[ReqT, RespT](call) {
                  override def sendHeaders(h: Metadata): Unit = {
                    h.put(AuthKey, "Bearer " + bearerToken(secret))
                    super.sendHeaders(h)
                  }
                }
              Contexts.interceptCall(
                Context.current().withValue(BasicAuthedKey, java.lang.Boolean.TRUE),
                upgraded, headers, next)
            case None =>
              // payload-credential handshakes are validated in the
              // handler (the message body carries the credential)
              next.startCall(call, headers)
          }
        } else {
          if (!auth.contains("Bearer " + bearerToken(secret))) {
            call.close(Status.UNAUTHENTICATED.withDescription(
              "unauthenticated: handshake required"), new Metadata())
            new ServerCall.Listener[ReqT] {}
          } else next.startCall(call, headers)
        }
      }
    }

    private val service: ServerServiceDefinition =
      ServerServiceDefinition.builder(Service)
        .addMethod(HandshakeMd, ServerCalls.asyncBidiStreamingCall(handshakeImpl))
        .addMethod(ListFlightsMd, ServerCalls.asyncServerStreamingCall(listFlightsImpl))
        .addMethod(GetFlightInfoMd, ServerCalls.asyncUnaryCall(getFlightInfoImpl))
        .addMethod(GetSchemaMd, ServerCalls.asyncUnaryCall(getSchemaImpl))
        .addMethod(DoGetMd, ServerCalls.asyncServerStreamingCall(doGetImpl))
        .addMethod(DoPutMd, ServerCalls.asyncBidiStreamingCall(doPutImpl))
        .addMethod(DoActionMd, ServerCalls.asyncServerStreamingCall(doActionImpl))
        .addMethod(ListActionsMd, ServerCalls.asyncServerStreamingCall(listActionsImpl))
        .build()

    private var grpc: GrpcServer = _

    def boundPort: Int = grpc.getPort

    def start(): this.type = {
      grpc = NettyServerBuilder
        .forAddress(new InetSocketAddress(
          java.net.InetAddress.getLoopbackAddress, port))
        .addService(ServerInterceptors.intercept(service, new AuthInterceptor))
        .maxInboundMessageSize(MaxMessageBytes)
        .build()
        .start()
      this
    }

    override def close(): Unit =
      if (grpc != null) {
        grpc.shutdownNow()
        grpc.awaitTermination(10, TimeUnit.SECONDS)
      }
  }

  // ---- client ----------------------------------------------------------------

  /** DoPut uploads whole batches as single gRPC messages; size the cap
    * to the codec batch size, not the 4 MiB gRPC default. */
  private val MaxMessageBytes = 64 << 20

  private final class BearerInterceptor(token: String) extends ClientInterceptor {
    override def interceptCall[ReqT, RespT](md: MethodDescriptor[ReqT, RespT],
        opts: CallOptions, next: Channel): ClientCall[ReqT, RespT] =
      new ForwardingClientCall.SimpleForwardingClientCall[ReqT, RespT](
        next.newCall(md, opts)) {
        override def start(listener: ClientCall.Listener[RespT],
            headers: Metadata): Unit = {
          if (token.nonEmpty) headers.put(AuthKey, "Bearer " + token)
          super.start(listener, headers)
        }
      }
  }

  private def withChannel[A](host: String, port: Int, token: String)
      (body: Channel => A): A = {
    val managed = NettyChannelBuilder.forAddress(host, port)
      .usePlaintext().maxInboundMessageSize(MaxMessageBytes).build()
    try body(ClientInterceptors.intercept(managed, new BearerInterceptor(token)))
    finally {
      managed.shutdownNow()
      managed.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  /** Handshake: exchange `credential` for the server's bearer token;
    * throws UNAUTHENTICATED on rejection. */
  def handshake(host: String, port: Int, credential: String = ""): String =
    withChannel(host, port, "") { ch =>
      val done = new CountDownLatch(1)
      @volatile var token: String = null
      @volatile var err: Throwable = null
      val req = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(HandshakeMd, CallOptions.DEFAULT),
        new StreamObserver[Handshake] {
          override def onNext(r: Handshake): Unit =
            token = new String(r.payload, UTF_8)
          override def onError(t: Throwable): Unit = { err = t; done.countDown() }
          override def onCompleted(): Unit = done.countDown()
        })
      req.onNext(Handshake(payload = credential.getBytes(UTF_8)))
      req.onCompleted()
      if (!done.await(60, TimeUnit.SECONDS))
        throw new RuntimeException("flight-grpc: handshake timed out")
      if (err != null) throw err
      token
    }

  def listFlights(host: String, port: Int, token: String = ""): Seq[String] =
    withChannel(host, port, token) { ch =>
      ClientCalls.blockingServerStreamingCall(
        ch, ListFlightsMd, CallOptions.DEFAULT, Criteria()).asScala
        .flatMap(_.descriptor.map(d =>
          if (d.path.nonEmpty) d.path.head else d.cmdUtf8))
        .toSeq
    }

  def getSchema(host: String, port: Int, ticket: String,
      token: String = ""): StructType =
    withChannel(host, port, token) { ch =>
      val res = ClientCalls.blockingUnaryCall(
        ch, GetSchemaMd, CallOptions.DEFAULT, FlightDescriptor.forCmd(ticket))
      schemaOfBytes(res.schema)
    }

  def doGet(host: String, port: Int, ticket: String,
      token: String = ""): (Seq[Row], StructType) =
    withChannel(host, port, token) { ch =>
      collectFlightData(ClientCalls.blockingServerStreamingCall(
        ch, DoGetMd, CallOptions.DEFAULT, Ticket.of(ticket)).asScala)
    }

  /** Spec hook for the slow-client contract: open a DoGet, pull
    * `pullFrames` frames, STALL `holdMs` without draining (the
    * blocking iterator stops issuing flow-control requests, so the
    * transport window fills and the server sees a non-ready stream),
    * then resume draining. Returns the error the resumed drain hits —
    * expected to be the server's [[drainStallMs]] abort. */
  private[graft] def doGetStall(host: String, port: Int, ticket: String,
      pullFrames: Int, holdMs: Long): Option[Throwable] =
    withChannel(host, port, "") { ch =>
      val it = ClientCalls.blockingServerStreamingCall(
        ch, DoGetMd, CallOptions.DEFAULT, Ticket.of(ticket))
      try {
        var k = 0
        while (k < pullFrames && it.hasNext) { it.next(); k += 1 }
        Thread.sleep(holdMs)
        while (it.hasNext) it.next()
        None
      } catch { case e: Throwable => Some(e) }
    }

  /** Fetch a dense tensor over DoGet (`tensor!` ticket): the sql must
    * return one row with `data array<double>` and `shape array<bigint>`
    * columns; the wire carries one Arrow Tensor message. */
  def doGetTensor(host: String, port: Int, sql: String,
      token: String = ""): TensorIpc.DenseTensor =
    withChannel(host, port, token) { ch =>
      val frames = ClientCalls.blockingServerStreamingCall(
        ch, DoGetMd, CallOptions.DEFAULT, Ticket.of("tensor!" + sql)).asScala
      require(frames.hasNext, "tensor DoGet returned no frame")
      val fd = frames.next()
      require(!frames.hasNext, "tensor DoGet returned more than one frame")
      TensorIpc.fromParts(bareHeader(fd.dataHeader), fd.dataBody)
    }

  /** Fetch a COO sparse tensor over DoGet (`sparse_tensor!` ticket):
    * the sql must return one row with `shape array<bigint>`,
    * `indices array<bigint>` (row-major nnz×ndim) and
    * `values array<double>`; the wire carries one SparseTensor
    * message. */
  def doGetSparseTensor(host: String, port: Int, sql: String,
      token: String = ""): TensorIpc.CooTensor =
    withChannel(host, port, token) { ch =>
      val frames = ClientCalls.blockingServerStreamingCall(
        ch, DoGetMd, CallOptions.DEFAULT,
        Ticket.of("sparse_tensor!" + sql)).asScala
      require(frames.hasNext, "sparse tensor DoGet returned no frame")
      val fd = frames.next()
      require(!frames.hasNext,
        "sparse tensor DoGet returned more than one frame")
      TensorIpc.fromPartsSparse(bareHeader(fd.dataHeader), fd.dataBody)
    }

  def doPut(host: String, port: Int, name: String, rows: Seq[Row],
      schema: StructType, token: String = ""): Long =
    withChannel(host, port, token) { ch =>
      val done = new CountDownLatch(1)
      @volatile var result: Long = -1L
      @volatile var err: Throwable = null
      val req = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(DoPutMd, CallOptions.DEFAULT),
        new StreamObserver[PutResult] {
          override def onNext(r: PutResult): Unit = result = r.utf8.toLong
          override def onError(t: Throwable): Unit = { err = t; done.countDown() }
          override def onCompleted(): Unit = done.countDown()
        })
      try {
        val desc = FlightDescriptor.forPath(name)
        var first = true
        val splitter = new MessageSplitter(fd => {
          req.onNext(if (first) { first = false; fd.copy(descriptor = Some(desc)) }
          else fd)
        })
        Ipc.writeIpcStreamTo(rows.iterator, schema, splitter)
        req.onCompleted()
      } catch { case e: Throwable => req.onError(e); throw e }
      if (!done.await(300, TimeUnit.SECONDS))
        throw new RuntimeException("flight-grpc: DoPut timed out")
      if (err != null) throw err
      result
    }

  def listActions(host: String, port: Int, token: String = ""): Seq[String] =
    withChannel(host, port, token) { ch =>
      ClientCalls.blockingServerStreamingCall(
        ch, ListActionsMd, CallOptions.DEFAULT, EmptyMsg()).asScala
        .map(a => s"${a.actionType}: ${a.description}").toSeq
    }

  def doAction(host: String, port: Int, action: String, body: String = "",
      token: String = ""): String =
    withChannel(host, port, token) { ch =>
      val results = ClientCalls.blockingServerStreamingCall(
        ch, DoActionMd, CallOptions.DEFAULT,
        Action(action, body.getBytes(UTF_8))).asScala.toSeq
      results.headOption.map(_.bodyUtf8).getOrElse("")
    }

  /** GetFlightInfo: the ticket's schema + its endpoint tickets (one
    * per partition of the pinned server-side plan). */
  def getFlightInfo(host: String, port: Int, ticket: String,
      token: String = ""): (StructType, Seq[String]) =
    withChannel(host, port, token) { ch =>
      val info = ClientCalls.blockingUnaryCall(
        ch, GetFlightInfoMd, CallOptions.DEFAULT,
        FlightDescriptor.forCmd(ticket))
      (schemaOfBytes(info.schema), info.endpoints.map(_.ticket.utf8))
    }

  /** Parallel DoGet: drain every endpoint of the ticket's FlightInfo
    * on its own channel concurrently, concatenated in endpoint order
    * (= partition order = single-ticket DoGet order). */
  def doGetParallel(host: String, port: Int, ticket: String,
      maxParallel: Int = 8, token: String = ""): (Seq[Row], StructType) = {
    val (schema, endpoints) = getFlightInfo(host, port, ticket, token)
    val parts = inParallel(maxParallel, "graft-doGetParallel")(
      endpoints.map(e => () => doGet(host, port, e, token)._1))
    (parts.flatten, schema)
  }

  // ---- oracle-checked query -----------------------------------------------

  /** Full gRPC wire round-trip as a correctness row, served under both
    * the `flight_roundtrip` and `flight_grpc` keys: upload `nation`
    * over DoPut, aggregate it back over DoGet with a SQL CMD ticket,
    * every value crossing HTTP/2 twice, so the oracle hash over the
    * ORIGINAL parquet proves the protobuf codec, the FlightData
    * re-framing, and the gRPC transport in both directions. */
  def qFlightGrpcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val server = new Server(s).start()
    try {
      val nation = graft.sources.Tables(s, dir, "nation")
      doPut("127.0.0.1", server.boundPort, "flight_grpc_nation",
        nation.collect().toSeq, nation.schema)
      require(listFlights("127.0.0.1", server.boundPort)
        .contains("flight_grpc_nation"),
        "flight-grpc: uploaded view not listed")
      val (rows, schema) = doGet("127.0.0.1", server.boundPort,
        """SELECT n_regionkey, COUNT(*) AS n,
           MIN(n_name) AS first_name, MAX(n_nationkey) AS max_key
           FROM flight_grpc_nation GROUP BY n_regionkey ORDER BY n_regionkey""")
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
        .orderBy("n_regionkey")
    } finally server.close()
  }

  val qFlightGrpcRoundtripSql: String = """
    SELECT n_regionkey, COUNT(*) AS n,
      MIN(n_name) AS first_name, MAX(n_nationkey) AS max_key
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
  """.trim
}
