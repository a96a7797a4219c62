package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** One closed-loop request: `cls` is read, write, egress or op. `wrong` marks
  * an op whose output failed its correctness check; `failed` one that
  * threw. `version` is the table version a commit created, else -1. */
final case class OpRec(id: Long, name: String, cls: String,
    t0: Long, t1: Long, buildNs: Long, execNs: Long, rows: Long,
    version: Int, failed: Boolean, var wrong: Boolean, err: String)

/** Minimal JSON writer: the benchmark's output is flat records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Canonical JSON form of result rows, for comparing outputs with each
  * other and with the lakehouse model: doubles in their round-trip
  * decimal form, timestamps as UTC `YYYY-MM-DD HH:MM:SS.ffffff`, structs
  * and arrays as lists. */
object Canon {
  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def value(v: Any): String = v match {
    case null => "null"
    case b: java.lang.Boolean => b.toString
    case n: java.lang.Byte => n.toString
    case n: java.lang.Short => n.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Long => n.toString
    case f: java.lang.Float => Json.num(f.toDouble)
    case d: java.lang.Double => Json.num(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => Json.str(s)
    case t: java.sql.Timestamp =>
      Json.str(TsFmt.format(java.time.LocalDateTime.ofInstant(
        t.toInstant, java.time.ZoneOffset.UTC)))
    case t: java.time.Instant =>
      Json.str(TsFmt.format(java.time.LocalDateTime.ofInstant(
        t, java.time.ZoneOffset.UTC)))
    case t: java.time.LocalDateTime => Json.str(TsFmt.format(t))
    case d: java.sql.Date => Json.str(d.toLocalDate.toString)
    case d: java.time.LocalDate => Json.str(d.toString)
    case b: Array[Byte] => Json.str("0x" + b.map("%02x".format(_)).mkString)
    case r: Row => Json.arr(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      Json.arr(m.toSeq.map { case (k, x) => Json.arr(Seq(value(k), value(x))) }
        .sorted)
    case s: scala.collection.Seq[_] => Json.arr(s.map(value))
    case other => Json.str(other.toString)
  }

  def rows(rows: Array[Row]): Seq[String] = rows.toSeq.map(value)

  /** Order-independent digest: equal outputs of one key, run twice,
    * must digest equal. */
  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** One key's output, a parquet directory at `path`, to compare with
  * `sql` over `inputs`. */
final case class Check(key: String, path: String, sql: String, inputs: String)

/** Shared state of one benchmark process. */
final class Ctx(val workload: String, val seed: Long, val cores: Int,
    val tracer: Tracer, val inputs: String, val work: Path) {
  /** Small tables of the same shapes, for warm-up ops. */
  val warm: String = inputs + "/warm"
  var spark: SparkSession = _
  var sess: graft.Session = _
  val listeners: Option[Listeners] =
    if (tracer.enabled) Some(new Listeners) else None
  val ops = new ConcurrentLinkedQueue[OpRec]()
  private val nextOp = new AtomicLong(0)
  /** Extra figures a workload reports (name -> JSON value). */
  val extra = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Result files oracle.py checks. */
  val checks = new ConcurrentLinkedQueue[Check]()

  def put(name: String, v: Double): Unit = extra.put(name, Json.num(v))
  def add(name: String, v: Double): Unit =
    extra.compute(name, (_, old) =>
      Json.num(Option(old).map(_.toDouble).getOrElse(0.0) + v))

  /** Time one closed-loop op. `body` gets the op id and returns the
    * rows it produced; `build` / `exec` inside it time the split. The
    * op runs under its own job tag in a traced run. */
  def op(name: String, cls: String)(body: OpTimer => Long): OpRec = {
    val id = nextOp.incrementAndGet()
    val timer = new OpTimer
    val tag = Listeners.Prefix + id
    if (tracer.enabled) spark.sparkContext.addJobTag(tag)
    val t0 = Clock.now
    val (rows, err) =
      try (tracer.withOp(id)(tracer.span("op:" + name)(body(timer))), null)
      catch { case e: Throwable =>
        (0L, Option(e.getMessage).getOrElse(e.toString).take(300)) }
    val t1 = Clock.now
    if (tracer.enabled) spark.sparkContext.removeJobTag(tag)
    val rec = OpRec(id, name, cls, t0, t1, timer.buildNs,
      timer.execNs, rows, timer.version, err != null, false, err)
    ops.add(rec)
    rec
  }

  def allOps: Seq[OpRec] = ops.asScala.toSeq.sortBy(_.id)
}

final class OpTimer {
  var buildNs = 0L
  var execNs = 0L
  var version = -1
  def build[T](f: => T): T = {
    val t = Clock.now
    try f finally buildNs += Clock.now - t
  }
  def exec[T](f: => T): T = {
    val t = Clock.now
    try f finally execNs += Clock.now - t
  }
}

object Sizes {
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def tree(p: Path): Long = files(p).map(Files.size).sum

  /** (log bytes, data files) of a table root: data files are parquet,
    * everything else is log. */
  def tableLog(root: Path): (Double, Double) = {
    val (data, log) = files(root).filterNot(_.getFileName.toString.endsWith(".crc"))
      .partition(_.getFileName.toString.endsWith(".parquet"))
    (log.map(Files.size).sum.toDouble, data.size.toDouble)
  }
}
