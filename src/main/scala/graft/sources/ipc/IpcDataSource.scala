package graft.sources.ipc

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.arrow.vector.{FieldVector, IntVector, VarCharVector, VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.ipc.message.{ArrowDictionaryBatch, IpcOption}
import org.apache.arrow.vector.types.{IntervalUnit, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.ops.Ipc

/** Arrow IPC (Feather v2) as a first-class Spark DataSource V2 —
  * `spark.read.format("graft-ipc").load(dir)` /
  * `df.write.format("graft-ipc").mode("overwrite").save(dir)` — and
  * the engine's one Arrow IPC file codec: [[graft.ops.Ipc]]'s
  * `writeIpc`, `writeIpcDict`, `writeIpcDictDelta` and `readIpc` are
  * entry points over it.
  *
  * The reference's IPC file format (`cpp/src/arrow/ipc/reader.h:58`
  * RecordBatchFileReader / `writer.h:54`; dataset discovery
  * `dataset/discovery.h:55`) behind Catalyst's connector surface, so
  * scans get planned like any other source — one `InputPartition` per
  * .arrow file or record-batch split (DataFusion's file-granularity
  * parallelism, `physical_plan/csv.rs:31-66`), column pruning pushed
  * into the reader via `SupportsPushDownRequiredColumns` (the
  * reference's `ScannerBuilder::Project`, `dataset/scanner.h:196`),
  * stats-sidecar file skipping, COUNT/MIN/MAX and LIMIT pushdown — and
  * writes running under Spark's commit coordinator with job-level
  * atomic-rename commit (temps become visible only in
  * `BatchWrite.commit`, after every task succeeded).
  *
  * Reads are columnar (Spark's ArrowColumnVector over the file's own
  * vectors) unless the head file's footer carries an Arrow width those
  * accessors misread (TIME32, TIME64[µs], non-µs Duration, DAY_TIME,
  * at any depth); such a directory takes the row reader, which widens
  * every width through [[graft.ops.Ipc.getCatalystValue]]. Either
  * reader binds the planned columns by name in each file's own footer.
  *
  * Write options: `compression` (zstd, lz4, none) and the two
  * dictionary forms ([[IpcWriteSpec]]). All I/O is
  * Hadoop-FileSystem-based — works on any Hadoop FS, no
  * shared-local-disk assumption. Types: [[graft.ops.Ipc]]'s full wire
  * ladder, nested types included, nullable throughout.
  */
final class IpcDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-ipc"

  // write path: take the query's schema as-is instead of requiring the
  // directory to already exist for inference
  override def supportsExternalMetadata(): Boolean = true

  // Spark calls inferSchema and then getTable on one provider
  // instance, so the reader choice the inferring footer read made
  // rides along; None when the caller supplied the schema
  private var columnar: Option[Boolean] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = IpcDataSource.pathOf(options)
    val (schema, col) = IpcDataSource.headFooter(dir).getOrElse(
      throw new IllegalArgumentException(s"no .arrow files in $dir"))
    columnar = Some(col)
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new IpcTable(schema,
      IpcDataSource.pathOf(new CaseInsensitiveStringMap(properties)), columnar)
}

private object IpcDataSource {
  def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-ipc requires a path"))

  /** Discovery/Inspect: the first file's footer (+ dictionary blocks),
    * read on the driver — its Spark schema (dictionary-encoded columns
    * at their VALUE type) and whether Spark's ArrowColumnVector can
    * read every column; None for a directory without .arrow files. */
  def headFooter(dir: String): Option[(StructType, Boolean)] = {
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new HPath(dirPath, "*.arrow"))).getOrElse(Array())
      .sortBy(_.getPath.toString).headOption.map { head =>
        val allocator = new RootAllocator()
        val rd = new Ipc.DeltaIpcFileReader(
          new Ipc.HadoopSeekableChannel(fs.open(head.getPath), head.getLen),
          allocator, Ipc.readCodecs)
        try {
          rd.loadDeltaDictionaries()
          val dicts = rd.getDictionaryVectors
          val root = rd.getVectorSchemaRoot
          (Ipc.sparkSchema(root, dicts),
            root.getSchema.getFields.asScala.forall { f =>
              columnarReadable(if (f.getDictionary == null) f
                else dicts.get(f.getDictionary.getId).getVector.getField)
            })
        } finally { rd.close(); allocator.close() }
      }
  }

  /** Whether Spark's ArrowColumnVector reads `f` right: it reads TIME
    * only as TIME64[ns] and a Duration's raw count as µs, and has no
    * DAY_TIME accessor — the widths a foreign producer (C++, pyarrow)
    * may write and the engine's writer never does. */
  private def columnarReadable(f: Field): Boolean = (f.getType match {
    case t: ArrowType.Time => t.getUnit == TimeUnit.NANOSECOND
    case d: ArrowType.Duration => d.getUnit == TimeUnit.MICROSECOND
    case iv: ArrowType.Interval => iv.getUnit != IntervalUnit.DAY_TIME
    case _ => true
  }) && f.getChildren.asScala.forall(columnarReadable)

  /** The position of each planned column in one file, bound by NAME in
    * that file's own footer: files of one directory may order their
    * columns differently (an append with another column order), and a
    * caller-supplied schema may too. A column the file lacks, or one
    * whose type is not the planned type, is refused naming both. */
  def bind(path: String, root: VectorSchemaRoot,
      dicts: JMap[java.lang.Long, Dictionary], required: StructType): Array[Int] = {
    val fields = root.getSchema.getFields
    required.fields.map { want =>
      val i = (0 until fields.size).find(fields.get(_).getName == want.name)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-ipc file $path has no column '${want.name}'"))
      val got = Ipc.resolvedSparkType(fields.get(i), dicts)
      require(DataTypeUtils.equalsIgnoreNullability(got, want.dataType),
        s"graft-ipc file $path: column '${want.name}' is ${got.sql}, " +
          s"planned as ${want.dataType.sql}")
      i
    }
  }
}

private final class IpcTable(tableSchema: StructType, dir: String,
    columnar: Option[Boolean])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-ipc:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IpcScanBuilder(tableSchema, dir, columnar,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new IpcWriteBuilder(info.schema(), dir, info.queryId(),
      IpcWriteSpec.parse(info.schema(), info.options()))
}

// ---------------------------------------------------------------- read

private final class IpcScanBuilder(fullSchema: StructType, dir: String,
    columnar: Option[Boolean], maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var countStar = false
  private var limit: Option[Int] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** Filter pushdown for STATS-BASED FILE SKIPPING: every filter is
    * returned as residual (Spark re-evaluates all of them — pruning
    * is advisory and correctness never rests on it), but the
    * conjuncts are remembered and tested at planning time against
    * each file's `.arrow.stats` sidecar min/max — a whole file whose
    * stats refute the predicate is never opened. The reference's
    * dataset layer prunes fragments the same way
    * (`dataset/file_base.h` fragment statistics, `dataset/filter.h`). */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  /** LIMIT pushdown, PARTIAL (`isPartiallyPushed` default true):
    * each file reader stops pulling record batches once it has
    * yielded `n` rows — a `LIMIT 10` over a TB-scale directory
    * touches one batch per file instead of every batch — and Spark's
    * own GlobalLimit still trims the per-partition surplus. The
    * reference's scanner has the same knob (`ScannerBuilder`
    * batch_size/head, `dataset/scanner.h`). */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  // Catalyst hands down exactly the referenced columns (ColumnPruning →
  // V2ScanRelationPushDown) — the reference's ScannerBuilder::Project.
  // Top-level only: a struct keeps its whole planned type, because both
  // readers hand Spark the file's whole struct (nested pruning would
  // shift child ordinals under it)
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(fullSchema(_)))

  /** COUNT(*) pushdown: the row count of an Arrow file lives in each
    * record batch's METADATA header (`RecordBatch.length` in the
    * flatbuffer message) — the answer never requires touching column
    * data. Partial pushdown (`supportCompletePushDown` = false): each
    * file partition emits its own count row and Spark's final
    * aggregate sums them, so multi-file parallelism is preserved.
    * Grouped or non-count aggregates are declined and run the normal
    * scan path. The reference's dataset scanner exposes the same
    * fast path (`CountRows`, `dataset/scanner.h`). */
  /** MIN/MAX pushdown from the stats sidecars — the COUNT(*) fast
    * path's sibling: a global MIN/MAX over a directory is the
    * fold of per-file sidecar minima/maxima, zero column data read.
    * Partial pushdown (one row per file; Spark folds). Accepted only
    * when EVERY data file has a sidecar (one glob to check — if any
    * is missing the whole pushdown declines and the normal scan
    * computes the answer) and only for integral-kind columns
    * (int/long/date/timestamp), boolean, and binary-collation strings
    * (sidecar string bounds order by UTF8String byte order — exactly
    * Spark's MIN/MAX order, any content). float/double decline: their
    * stats ignore NaN and would be silently wrong in that corner, so
    * they scan; collated strings never reach 's' kind (IpcStats). */
  private var statsAggs: Seq[IpcStatsAggScan.AggSpec] = Nil

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    // an EMPTY aggregate list happens when an outer count() prunes the
    // inner aggregate's expressions away — accepting it would promise
    // a zero-column scan while build() falls back to the full one
    if (agg.groupByExpressions().nonEmpty ||
        agg.aggregateExpressions().isEmpty) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case fr: NamedReference if fr.fieldNames().length == 1 =>
          fullSchema.fields.find(_.name == fr.fieldNames()(0))
        case _ => None
      }
    def statable(f: StructField): Boolean = f.dataType match {
      case LongType | IntegerType | DateType | TimestampType | BooleanType => true
      case StringType => true
      case _ => false
    }
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(IpcStatsAggScan.CountSpec)
      case m: Min => colOf(m.column).filter(statable)
        .map(f => IpcStatsAggScan.MinSpec(f.name, f.dataType))
      case m: Max => colOf(m.column).filter(statable)
        .map(f => IpcStatsAggScan.MaxSpec(f.name, f.dataType))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    if (specs.length == 1 && specs.head.contains(IpcStatsAggScan.CountSpec)) {
      // pure COUNT(*): batch-header metadata path, needs no sidecars
      countStar = true
      return true
    }
    // min/max answers come from sidecars: require full coverage
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    def names(glob: String): Set[String] =
      Option(fs.globStatus(new HPath(new HPath(dir), glob)))
        .getOrElse(Array()).map(_.getPath.getName).toSet
    val stats = names("*.arrow.stats")
    if (!names("*.arrow").forall(f => stats.contains(f + ".stats"))) return false
    // EVERY sidecar must carry a TRACKED kind for every min/max column
    // — a demoted/untracked column ('x': pre-v2 string bounds, binary,
    // collated strings) yields a null partial a file WITH data would
    // be indistinguishable from, silently answering NULL. Parse cost
    // is O(#files) tiny JSONs, the source's stated planning posture;
    // absent bounds on a TRACKED kind mean an all-null file, whose
    // null partial is the correct answer.
    val minMaxCols = specs.flatten.collect {
      case IpcStatsAggScan.MinSpec(n, _) => n
      case IpcStatsAggScan.MaxSpec(n, _) => n
    }.toSet
    if (minMaxCols.nonEmpty) {
      val answerable = stats.forall { s =>
        IpcStats.readSidecar(fs, new HPath(new HPath(dir), s)) match {
          case Some(st) => minMaxCols.forall(c =>
            st.cols.get(c).exists(_.kind != 'x'))
          case None => false // unreadable sidecar: take the scan path
        }
      }
      if (!answerable) return false
    }
    statsAggs = specs.flatten
    true
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def build(): Scan =
    if (countStar) new IpcCountScan(dir)
    else if (statsAggs.nonEmpty) new IpcStatsAggScan(dir, statsAggs)
    else new IpcScan(required, dir, columnar, maxFilesPerTrigger, limit,
      pushed)
}

/** Metadata-only COUNT(*) scan: one partition per .arrow file, each
  * emitting a single count row assembled from the file footer's block
  * list + each batch's flatbuffer header — column buffers are never
  * read. */
private final class IpcCountScan(dir: String) extends Scan with Batch {
  private val outSchema = StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String = s"graft-ipc $dir, PushedAggregates: [COUNT(*)] (metadata-only)"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    Option(fs.globStatus(new HPath(new HPath(dir), "*.arrow")))
      .getOrElse(Array()).sortBy(_.getPath.toString)
      .map(st => IpcInputPartition(st.getPath.toString, st.getLen): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val confSer = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[IpcInputPartition]
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = !done
          override def get(): InternalRow = {
            done = true
            new GenericInternalRow(Array[Any](
              IpcCountScan.countRows(part.path, confSer.value)))
          }
          override def close(): Unit = ()
        }
      }
    }
  }
}

private object IpcCountScan {
  /** Sum of RecordBatch.length over the file's batches, reading only
    * the footer (via ArrowFileReader's block list) and each block's
    * metadata flatbuffer — `block.bodyLength` bytes of column data per
    * batch are skipped entirely. */
  def countRows(path: String, conf: org.apache.hadoop.conf.Configuration): Long = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val ch = new Ipc.HadoopSeekableChannel(in, len)
      val allocator = new RootAllocator()
      val rd = new ArrowFileReader(ch, allocator)
      try {
        var total = 0L
        rd.getRecordBlocks.asScala.foreach { block =>
          // message header: 4-byte continuation marker + 4-byte metadata
          // length, then the Message flatbuffer carrying RecordBatch.length
          val metaLen = block.getMetadataLength
          val buf = new Array[Byte](metaLen)
          in.seek(block.getOffset)
          in.readFully(buf, 0, metaLen)
          val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val first = bb.getInt()
          val flatbufStart = if (first == -1 /* 0xFFFFFFFF continuation */) 8 else 4
          bb.position(flatbufStart)
          val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(bb.slice().order(java.nio.ByteOrder.LITTLE_ENDIAN))
          val rb = new org.apache.arrow.flatbuf.RecordBatch()
          msg.header(rb)
          total += rb.length()
        }
        total
      } finally { rd.close(); allocator.close() }
    } finally in.close()
  }
}

/** Sidecar-answered global MIN/MAX (+COUNT(*)) scan: one partition per
  * file, each emitting a single partial row read from the `.stats`
  * sidecar — column data is never opened. Spark's final aggregate
  * folds the per-file partials. All-null / empty files emit null
  * min/max partials (null-skipping fold handles them). */
private final class IpcStatsAggScan(dir: String,
    specs: Seq[IpcStatsAggScan.AggSpec]) extends Scan with Batch {
  import IpcStatsAggScan._

  private val outSchema = StructType(specs.map {
    case CountSpec => StructField("count(*)", LongType, nullable = false)
    case MinSpec(n, dt) => StructField(s"min($n)", dt)
    case MaxSpec(n, dt) => StructField(s"max($n)", dt)
  })
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String = {
    val shown = specs.map {
      case CountSpec => "COUNT(*)"
      case MinSpec(n, _) => s"MIN($n)"
      case MaxSpec(n, _) => s"MAX($n)"
    }
    s"graft-ipc $dir, PushedAggregates: [${shown.mkString(", ")}] (sidecar-metadata-only)"
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    Option(fs.globStatus(new HPath(new HPath(dir), "*.arrow")))
      .getOrElse(Array()).sortBy(_.getPath.toString)
      .map(st => IpcInputPartition(st.getPath.toString, st.getLen): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val confSer = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val localSpecs = specs
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[IpcInputPartition]
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = !done
          override def get(): InternalRow = {
            done = true
            val sp = new HPath(part.path + ".stats")
            val fs = sp.getFileSystem(confSer.value)
            val stats = IpcStats.readSidecar(fs, sp)
              .getOrElse(throw new java.io.IOException(
                s"unreadable stats sidecar during pushed aggregate: $sp"))
            new GenericInternalRow(localSpecs.map(s => eval(s, stats)).toArray)
          }
          override def close(): Unit = ()
        }
      }
    }
  }
}

private object IpcStatsAggScan {
  sealed trait AggSpec
  case object CountSpec extends AggSpec
  final case class MinSpec(name: String, dt: DataType) extends AggSpec
  final case class MaxSpec(name: String, dt: DataType) extends AggSpec

  /** Catalyst-encoded partial value for one spec from one file's
    * stats; null when the file has no non-null values. */
  def eval(spec: AggSpec, stats: IpcStats.FileStats): Any = spec match {
    case CountSpec => stats.rows
    case MinSpec(n, dt) => bound(stats, n, dt, isMin = true)
    case MaxSpec(n, dt) => bound(stats, n, dt, isMin = false)
  }

  private def bound(stats: IpcStats.FileStats, col: String, dt: DataType,
      isMin: Boolean): Any =
    stats.cols.get(col).flatMap(c => if (isMin) c.min else c.max) match {
      case None => null
      case Some(raw) => dt match {
        case LongType | TimestampType => raw.toLong
        case IntegerType | DateType => raw.toLong.toInt
        case BooleanType => raw.toBoolean
        case StringType =>
          org.apache.spark.unsafe.types.UTF8String.fromString(raw)
        case other => throw new IllegalStateException(
          s"unexpected pushed-aggregate type $other")
      }
    }
}

private final class IpcScan(required: StructType, dir: String,
    columnar: Option[Boolean], maxFilesPerTrigger: Option[Int] = None,
    limit: Option[Int] = None,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-ipc $dir, columns ${required.fieldNames.mkString(",")}" +
      limit.map(n => s", limit=$n").getOrElse("") +
      (if (filters.nonEmpty) s", filters=${filters.mkString(";")}" else "")

  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new IpcMicroBatchStream(required, dir, columnar, maxFilesPerTrigger)

  /** On-disk byte size of the file set. Without this, Catalyst falls
    * back to spark.sql.defaultSizeInBytes (≈ Long.Max) for a DSv2
    * relation and will never pick a broadcast join for a small IPC
    * table; with it, a dimension-sized IPC side broadcasts like any
    * parquet dim (EgressSpec asserts the join plan). IPC bytes are
    * uncompressed Arrow, so the estimate is honest for in-memory
    * planning purposes. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes: Long = {
        val conf = SparkSession.active.sparkContext.hadoopConfiguration
        val fs = new HPath(dir).getFileSystem(conf)
        Option(fs.globStatus(new HPath(new HPath(dir), "*.arrow")))
          .getOrElse(Array()).map(_.getLen).sum
      }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    val files = Option(fs.globStatus(new HPath(new HPath(dir), "*.arrow")))
      .getOrElse(Array()).sortBy(_.getPath.toString)
    val kept =
      if (filters.isEmpty) files
      else {
        val statNames = Option(fs.globStatus(
            new HPath(new HPath(dir), "*.arrow.stats")))
          .getOrElse(Array()).map(_.getPath.getName).toSet
        val confSer = new SerializableConfiguration(conf)
        val fltrs = filters
        // a file survives unless its sidecar's stats refute the filters
        def survives(filePath: String, fileName: String): Boolean = {
          val sidecar = fileName + ".stats"
          !statNames.contains(sidecar) || {
            val p = new HPath(new HPath(filePath).getParent, sidecar)
            val pfs = p.getFileSystem(confSer.value)
            IpcStats.readSidecar(pfs, p) match {
              case Some(stats) => IpcStats.mightMatch(stats, fltrs)
              case None => true // unreadable sidecar: keep the file
            }
          }
        }
        // small directories: read sidecars in the driver loop; large
        // ones: fan the reads out as a Spark job so planning stays
        // O(files/cluster) — the same escalation Spark's own
        // InMemoryFileIndex uses for partition discovery
        // (spark.sql.sources.parallelPartitionDiscovery.threshold)
        if (files.length <= 64) files.filter(st =>
          survives(st.getPath.toString, st.getPath.getName))
        else {
          val paths = files.map(st => (st.getPath.toString, st.getPath.getName))
          val keptPaths = SparkSession.active.sparkContext
            .parallelize(paths.toSeq, math.min(paths.length, 256))
            .filter { case (p, n) => survives(p, n) }
            .map(_._1).collect().toSet
          files.filter(st => keptPaths.contains(st.getPath.toString))
        }
      }
    // RECORD-BATCH SPLITTABILITY (guide §6): the Arrow file footer
    // carries every record batch's offset, so one large file can feed
    // many tasks — each split owns a contiguous range of batch indices
    // it resolves from the footer at open time (no driver footer
    // reads at planning). Split target is scale-adaptive, never a
    // core-count constant: bytes/defaultParallelism, floored at 4 MB
    // (tiny files never split) and capped by
    // spark.sql.files.maxPartitionBytes — the same sizing contract as
    // the parquet scan path.
    val totalLen = kept.map(_.getLen).sum
    val sc = SparkSession.active.sparkContext
    val maxPB = SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    val target = math.max(4L << 20,
      math.min(maxPB, totalLen / math.max(1, sc.defaultParallelism) + 1))
    kept.flatMap { st =>
      val nSplits = math.min(256L,
        (st.getLen + target - 1) / target).toInt.max(1)
      (0 until nSplits).map(i =>
        IpcInputPartition(st.getPath.toString, st.getLen, i, nSplits)
          : InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IpcPartitionReaderFactory(required,
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration),
      columnar.getOrElse(IpcDataSource.headFooter(dir).forall(_._2)), limit)
}

/** `splitIdx`/`nSplits`: this partition reads the `splitIdx`-th of
  * `nSplits` contiguous record-batch index ranges of the file (resolved
  * from the footer's block list at open time); (0, 1) = whole file. */
private final case class IpcInputPartition(path: String, len: Long,
    splitIdx: Int = 0, nSplits: Int = 1)
    extends InputPartition

private object IpcInputPartition {
  /** The contiguous slice of `blocks` owned by split `i` of `n` —
    * balanced by batch count (batches are writer-uniform BatchRows). */
  def ownedRange(nBlocks: Int, i: Int, n: Int): (Int, Int) =
    ((nBlocks.toLong * i / n).toInt, (nBlocks.toLong * (i + 1) / n).toInt)
}

/** Offset for the micro-batch source: the full set of committed files
  * seen so far, persisted in the offset itself. This is the
  * FileStreamSource seen-files map made explicit — file names carry no
  * global order (epoch numbers don't sort lexicographically), so a
  * high-watermark offset can't be correct; the set is. Fine for
  * IPC-handoff-sized directories; a 100 TB firehose belongs on a
  * log-structured source, not a file-drop one. */
private final case class IpcSourceOffset(files: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.toSeq.sorted
      .map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

private object IpcSourceOffset {
  def fromJson(json: String): IpcSourceOffset = {
    // inverse of json() above: top-level array of strings only
    val items = """"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
    IpcSourceOffset(items.toSet)
  }
}

/** Micro-batch half of the connector: each trigger reads exactly the
  * .arrow files that appeared since the last committed offset (the
  * IPC-handoff pattern — another process drops whole files, the
  * stream picks each up once). Batch-identical read path: same
  * partition-per-file planning, same columnar reader factory. */
private final class IpcMicroBatchStream(required: StructType, dir: String,
    columnar: Option[Boolean], maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private val confSer = new SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  private def fs = new HPath(dir).getFileSystem(confSer.value)

  /** Trigger.AvailableNow (the backfill/drain pattern: process all
    * data present at query START, respecting maxFilesPerTrigger
    * batching, then stop): the engine calls
    * `prepareForTriggerAvailableNow` once; the file universe is
    * frozen there so files landing DURING the drain are left for the
    * next incarnation — without the snapshot, a steady producer
    * could keep an "available now" query running forever. */
  @volatile private var availableNowSnapshot: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(listAllRaw())

  private def listAllRaw(): Set[String] =
    Option(fs.globStatus(new HPath(new HPath(dir), "*.arrow")))
      .getOrElse(Array()).map(_.getPath.toString).toSet

  private def listAll(): Set[String] = availableNowSnapshot match {
    case Some(frozen) => frozen
    case None => listAllRaw()
  }

  override def initialOffset(): Offset = IpcSourceOffset(Set.empty)

  /** Admission control (`maxFilesPerTrigger`): each trigger admits at
    * most N unseen files (name-sorted, so admission order is
    * deterministic) — the backpressure valve that keeps one giant
    * file-drop from becoming one giant micro-batch. Default is
    * everything available, matching FileStreamSource. */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[IpcSourceOffset].files
    val unseen = (listAll() -- seen).toSeq.sorted
    limit match {
      case mf: ReadMaxFiles => IpcSourceOffset(seen ++ unseen.take(mf.maxFiles()))
      case _ => IpcSourceOffset(seen ++ unseen)
    }
  }

  override def reportLatestOffset(): Offset = IpcSourceOffset(listAll())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  override def deserializeOffset(json: String): Offset =
    IpcSourceOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[IpcSourceOffset].files
    val now = end.asInstanceOf[IpcSourceOffset].files
    // A file in the offset diff can vanish between listing and planning
    // (compaction, a Complete-mode sink replacing epochs, manual
    // cleanup). Skipping it matches FileStreamSource: the offset range
    // describes what was visible, not a durability promise.
    (now -- seen).toSeq.sorted.flatMap { p =>
      try Some(IpcInputPartition(p, fs.getFileStatus(new HPath(p)).getLen): InputPartition)
      catch { case _: java.io.FileNotFoundException => None }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IpcPartitionReaderFactory(required, confSer,
      columnar.getOrElse(IpcDataSource.headFooter(dir).forall(_._2)))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private final class IpcPartitionReaderFactory(required: StructType,
    confSer: SerializableConfiguration, columnar: Boolean,
    limit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new IpcPartitionReader(p.asInstanceOf[IpcInputPartition], required,
      confSer, limit)

  // Columnar unless the footer carries a width ArrowColumnVector
  // misreads: each loaded Arrow record batch is handed to Spark as a
  // ColumnarBatch of ArrowColumnVector wrappers — zero per-value
  // conversion, and Catalyst plans a codegen'd ColumnarToRow on top
  // (same mechanism as Spark's vectorized parquet reader). The choice
  // is per scan: Spark refuses a scan mixing the two.
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new IpcColumnarPartitionReader(p.asInstanceOf[IpcInputPartition],
      required, confSer, limit)
}

/** One open file split, shared by both readers: the footer and
  * (delta-grown) dictionaries, the split's contiguous record-batch
  * range from the footer's block list (dictionaries load fully in
  * EVERY split — the file format puts them before any record batch, so
  * a mid-file split decodes identically), and the planned columns bound
  * by name. Vector memory is owned by the file reader's
  * VectorSchemaRoot and reused across batches — safe because Spark
  * fully consumes a batch or row before calling next(). */
private class IpcFileSplit(part: IpcInputPartition, required: StructType,
    confSer: SerializableConfiguration, limit: Option[Int]) {
  private val allocator = new RootAllocator()
  protected val reader = {
    val p = new HPath(part.path)
    val fs = p.getFileSystem(confSer.value)
    new Ipc.DeltaIpcFileReader(
      new Ipc.HadoopSeekableChannel(fs.open(p), part.len), allocator,
      Ipc.readCodecs)
  }
  reader.loadDeltaDictionaries() // dict ids -> (delta-grown) value vectors
  private val blocks = {
    val all = reader.getRecordBlocks.asScala.toIndexedSeq
    val (lo, hi) = IpcInputPartition.ownedRange(all.length, part.splitIdx,
      part.nSplits)
    all.slice(lo, hi)
  }
  private var nextBlock = 0
  protected val root = reader.getVectorSchemaRoot
  protected val fileIdx: Array[Int] = IpcDataSource.bind(part.path, root,
    reader.getDictionaryVectors, required)
  protected var served = 0L

  /** Load the split's next non-empty batch; false when done or when a
    * pushed limit is satisfied (whole batches are emitted — Spark's
    * GlobalLimit trims the surplus). */
  protected def loadNext(): Boolean = {
    if (limit.exists(served >= _)) return false
    while (nextBlock < blocks.length) {
      reader.loadRecordBatch(blocks(nextBlock))
      nextBlock += 1
      if (root.getRowCount > 0) return true
    }
    false
  }

  def close(): Unit = { reader.close(); allocator.close() }
}

/** Columnar reader: wraps the REQUIRED columns' Arrow vectors directly
  * (pruning = untouched vectors are simply never wrapped or walked). */
private final class IpcColumnarPartitionReader(part: IpcInputPartition,
    required: StructType, confSer: SerializableConfiguration,
    limit: Option[Int])
    extends IpcFileSplit(part, required, confSer, limit)
    with PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

  private var batch: ColumnarBatch = null
  // decoded stand-ins for dictionary-encoded vectors: allocated per
  // batch (ArrowColumnVector has no dictionary accessor), released
  // when the NEXT batch loads — the same contract the raw-vector reuse
  // rides on
  private var decoded: List[org.apache.arrow.vector.ValueVector] = Nil
  private def closeDecoded(): Unit = {
    decoded.foreach(v => try v.close() catch { case _: Throwable => () })
    decoded = Nil
  }

  override def next(): Boolean = {
    closeDecoded()
    if (!loadNext()) return false
    val cols: Array[ColumnVector] = fileIdx.map { i =>
      val vec = root.getVector(i)
      val enc = vec.getField.getDictionary
      if (enc == null) new ArrowColumnVector(vec): ColumnVector
      else {
        val dv = org.apache.arrow.vector.dictionary.DictionaryEncoder
          .decode(vec, reader.getDictionaryVectors.get(enc.getId))
        decoded ::= dv
        new ArrowColumnVector(dv): ColumnVector
      }
    }
    batch = new ColumnarBatch(cols, root.getRowCount)
    served += root.getRowCount
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = { closeDecoded(); super.close() }
}

/** Row reader: only the REQUIRED columns are converted to InternalRow
  * fields, through [[graft.ops.Ipc.CatalystRows]] (pruning saves decode
  * work; skipping the bytes themselves is the parquet path's job — IPC
  * is the interchange format, not the 100 TB at-rest format). */
private final class IpcPartitionReader(part: IpcInputPartition,
    required: StructType, confSer: SerializableConfiguration,
    limit: Option[Int])
    extends IpcFileSplit(part, required, confSer, limit)
    with PartitionReader[InternalRow] {
  private val rows = new Ipc.CatalystRows(root, reader.getDictionaryVectors,
    fileIdx)
  private var rowInBatch = 0
  private var batchRows = 0

  override def next(): Boolean = {
    if (limit.exists(served >= _)) return false // pushed limit satisfied
    if (rowInBatch < batchRows) return true
    if (!loadNext()) return false
    rowInBatch = 0
    batchRows = root.getRowCount
    true
  }

  override def get(): InternalRow = {
    val row = rows.row(rowInBatch)
    rowInBatch += 1
    served += 1
    row
  }
}

// --------------------------------------------------------------- write

private final class IpcWriteBuilder(schema: StructType, dir: String,
    queryId: String, spec: IpcWriteSpec)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  // mode("overwrite") arrives as OverwriteByExpression(AlwaysTrue) and
  // Catalyst lowers it onto truncate() when the builder supports it;
  // streaming Complete mode arrives the same way and means "each epoch
  // replaces the directory contents"
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new IpcBatchWrite(schema, dir, truncateFirst, queryId, spec)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new IpcStreamingWrite(schema, dir, replaceEachEpoch = truncateFirst,
        spec)
  }
}

/** Job-level atomic-visibility commit: every task writes an
  * attempt-unique temp (`.part-<queryId>-<pid>-t<taskId>.arrow.tmp`,
  * under the commit coordinator so exactly one attempt per partition
  * commits), and only `commit()` — which runs after ALL tasks
  * succeeded — renames temps to their final
  * `part-<queryId>-<pid>.arrow` names. The query UUID in the final
  * name makes append jobs collision-free ACROSS applications (task
  * ids restart at 0 per app, so they alone cannot be). Atomicity is
  * PER FILE: no reader can ever observe a partially-written file, but
  * commit() renames the job's temps one by one, so a concurrent
  * reader (or the graft-ipc micro-batch source) may observe a strict
  * subset of a job's files mid-commit — each file is still read
  * exactly once, just possibly split across triggers. `abort()`
  * deletes temps. */
private final class IpcBatchWrite(schema: StructType, dir: String,
    truncateFirst: Boolean, queryId: String, spec: IpcWriteSpec)
    extends BatchWrite {

  private val confSer = new SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val fs = new HPath(dir).getFileSystem(confSer.value)
    fs.mkdirs(new HPath(dir))
    // Scrub stale temps only under overwrite, which claims exclusive
    // ownership of the directory anyway. An append job must NOT: a
    // concurrent writer's in-flight temps are indistinguishable from
    // crashed-job leftovers, and deleting them would fail that job's
    // commit rename. Leftover temps are dot-prefixed so no reader
    // ever sees them; the next overwrite collects them.
    if (truncateFirst)
      for (pat <- Seq(".*.arrow.tmp", ".*.arrow.tmp.stats");
           st <- Option(fs.globStatus(new HPath(new HPath(dir), pat)))
             .getOrElse(Array()))
        fs.delete(st.getPath, false)
    new IpcDataWriterFactory(schema, dir, confSer, queryId, spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(dir).getFileSystem(confSer.value)
    if (truncateFirst)
      for (pat <- Seq("*.arrow", "*.arrow.stats");
           st <- Option(fs.globStatus(new HPath(new HPath(dir), pat)))
             .getOrElse(Array()))
        fs.delete(st.getPath, false)
    messages.collect { case IpcCommitMessage(tmp, dst, tmpStats, dstStats) =>
      // data file FIRST: a concurrent planner can then see at worst a
      // file without stats (no pruning), never stats without data.
      // exists-guard parity with TableLog.publish: HDFS rename refuses
      // an existing destination but RawLocalFileSystem silently
      // overwrites — the query UUID makes dst collisions
      // near-impossible, so an existing dst means a duplicated commit
      // and must fail loudly, not clobber
      if (fs.exists(new HPath(dst)))
        throw new java.io.IOException(s"commit destination exists: $dst")
      if (!fs.rename(new HPath(tmp), new HPath(dst)))
        throw new java.io.IOException(s"commit rename failed: $tmp -> $dst")
      if (tmpStats != null &&
          !fs.rename(new HPath(tmpStats), new HPath(dstStats)))
        fs.delete(new HPath(tmpStats), false) // advisory: drop, don't fail
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(dir).getFileSystem(confSer.value)
    messages.collect { case IpcCommitMessage(tmp, _, tmpStats, _) =>
      fs.delete(new HPath(tmp), false)
      if (tmpStats != null) fs.delete(new HPath(tmpStats), false)
    }
  }
}

/** `tmpStats`/`finalStats` are null when the sidecar write failed
  * (stats are advisory; the data commit must not depend on them). */
private final case class IpcCommitMessage(tmpPath: String, finalPath: String,
    tmpStats: String = null, finalStats: String = null)
    extends WriterCommitMessage

/** A lazy (streaming) writer that saw no rows — nothing to rename. */
private case object IpcEmptyCommit extends WriterCommitMessage

private final class IpcDataWriterFactory(schema: StructType, dir: String,
    confSer: SerializableConfiguration, queryId: String, spec: IpcWriteSpec)
    extends DataWriterFactory {
  // queryId (a per-write UUID) scopes names across applications;
  // taskId disambiguates retried attempts within this job's temps
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IpcDataWriter(schema,
      new HPath(dir, s".part-$queryId-$partitionId-t$taskId.arrow.tmp"),
      new HPath(dir, s"part-$queryId-$partitionId.arrow"), confSer,
      spec)
}

/** Structured-Streaming sink half of the connector: every epoch is an
  * independent atomically-committed file set `part-e<epoch>-<pid>
  * .arrow` — temps become visible only in the driver-side epoch
  * commit, and a REPLAYED epoch (failure recovery) deletes that
  * epoch's previous files before renaming, so the directory converges
  * to exactly-once contents. Readers see epochs only whole.
  *
  * `replaceEachEpoch` (streaming Complete mode, via
  * `SupportsTruncate`): each committed epoch first deletes ALL prior
  * epochs' files, so the directory always holds exactly the latest
  * full snapshot instead of an accumulating union. */
private final class IpcStreamingWrite(schema: StructType, dir: String,
    replaceEachEpoch: Boolean, spec: IpcWriteSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val confSer = new SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val fs = new HPath(dir).getFileSystem(confSer.value)
    fs.mkdirs(new HPath(dir))
    new IpcStreamingDataWriterFactory(schema, dir, confSer, spec)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(dir).getFileSystem(confSer.value)
    // Complete mode: this epoch's snapshot replaces everything;
    // otherwise scrub only a replayed epoch's half-committed set
    val scrubGlobs = if (replaceEachEpoch)
      Seq("part-*.arrow", "part-*.arrow.stats")
    else Seq(s"part-e$epochId-*.arrow", s"part-e$epochId-*.arrow.stats")
    for (g <- scrubGlobs; st <- Option(fs.globStatus(
        new HPath(new HPath(dir), g))).getOrElse(Array()))
      fs.delete(st.getPath, false)
    messages.collect { case IpcCommitMessage(tmp, dst, tmpStats, dstStats) =>
      if (!fs.rename(new HPath(tmp), new HPath(dst)))
        throw new java.io.IOException(s"epoch $epochId commit rename failed: $tmp -> $dst")
      if (tmpStats != null &&
          !fs.rename(new HPath(tmpStats), new HPath(dstStats)))
        fs.delete(new HPath(tmpStats), false)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(dir).getFileSystem(confSer.value)
    messages.collect { case IpcCommitMessage(tmp, _, tmpStats, _) =>
      fs.delete(new HPath(tmp), false)
      if (tmpStats != null) fs.delete(new HPath(tmpStats), false)
    }
  }
}

private final class IpcStreamingDataWriterFactory(schema: StructType,
    dir: String, confSer: SerializableConfiguration, spec: IpcWriteSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    // lazyCreate: an idle epoch's empty partitions must not spray
    // schema-only files into the sink directory on every trigger
    new IpcDataWriter(schema,
      new HPath(dir, s".part-e$epochId-$partitionId-t$taskId.arrow.tmp"),
      new HPath(dir, s"part-e$epochId-$partitionId.arrow"), confSer,
      spec, lazyCreate = true)
}


/** The connector's write options, parsed and checked once on the
  * driver at plan time. Beside `compression` (body-buffer codec: zstd,
  * lz4, none), each option stands for one parameter of a
  * [[graft.ops.Ipc]] entry point:
  *  - `dictionary` (`writeIpcDict`'s columns with their values): a
  *    JSON object of string column → sorted values; every file ships
  *    those columns as int32 ids into ONE prebuilt, non-delta
  *    dictionary batch;
  *  - `deltaDictionary` (`writeIpcDictDelta`'s columns):
  *    comma-separated string columns whose dictionary each file
  *    discovers as it writes — the first batch's values as the initial
  *    dictionary batch, later batches' new values as `isDelta`
  *    extensions;
  *  - `batchRows` (`writeIpcDictDelta`'s `batchRows`): rows per record
  *    batch of a delta-dictionary write.
  * Either form refuses past 65536 values per column: the prebuilt one
  * here, the delta one per file, mid-write. */
private[graft] final case class IpcWriteSpec(compression: String,
    prebuilt: Map[String, Array[String]], delta: Seq[String], batchRows: Int)

private[graft] object IpcWriteSpec {
  val MaxDictValues = 65536

  def parse(schema: StructType, o: CaseInsensitiveStringMap): IpcWriteSpec = {
    val compression = o.getOrDefault("compression", "none")
    Ipc.codecTypeOf(compression) // reject a bad codec name at plan time
    val prebuilt = Option(o.get("dictionary")).map { json =>
      new ObjectMapper().readValue(json,
          classOf[java.util.Map[String, java.util.List[String]]])
        .asScala.map { case (c, vs) => c -> vs.asScala.toArray }.toMap
    }.getOrElse(Map.empty[String, Array[String]])
    val delta = Option(o.get("deltaDictionary")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    require(!o.containsKey("batchRows") || delta.nonEmpty,
      "batchRows sets the record-batch size of a deltaDictionary write only")
    val batchRows = Option(o.get("batchRows")).map(_.toInt).getOrElse(Ipc.BatchRows)
    require(batchRows > 0, s"batchRows must be positive, is $batchRows")
    requireStrings(schema, prebuilt.keys.toSeq ++ delta)
    prebuilt.foreach { case (c, vs) =>
      require(vs.length <= MaxDictValues, s"column $c has ${vs.length} " +
        "dictionary values — too wide for a broadcast dictionary; write it plain")
    }
    IpcWriteSpec(compression, prebuilt, delta, batchRows)
  }

  def requireStrings(schema: StructType, cols: Seq[String]): Unit =
    cols.foreach { c =>
      require(schema(c).dataType == StringType,
        s"dictionary-encoded column $c must be string, is ${schema(c).dataType}")
    }

  /** The `dictionary` option's value for prebuilt `dicts`. */
  def dictionaryOption(dicts: Map[String, Array[String]]): String =
    new ObjectMapper().writeValueAsString(
      dicts.map { case (c, vs) => c -> vs.toSeq.asJava }.asJava)
}

/** Arrow file writer with the spec's body-buffer codec, and the
  * protected dictionary-batch hook opened so a delta-dictionary write
  * can emit `isDelta` extensions between record batches (the footer
  * records every dictionary block, so file readers replay them in
  * order). */
private final class IpcFileWriter(root: VectorSchemaRoot,
    provider: DictionaryProvider, ch: java.nio.channels.WritableByteChannel,
    codec: String)
    extends ArrowFileWriter(root, provider, ch, null, IpcOption.DEFAULT,
      Ipc.readCodecs, Ipc.codecTypeOf(codec)) {
  def writeDelta(b: ArrowDictionaryBatch): Unit = writeDictionaryBatch(b)
}

/** One dictionary-encoded string column of one file: the value → id
  * lookup and the values not yet shipped. A prebuilt column starts
  * with all its values pending and never grows; a delta column starts
  * empty and grows as rows arrive (ids are first-appearance ranks,
  * append-only), each flush shipping what it gained. */
private final class DictColumn(name: String, id: Long,
    prebuilt: Array[String], growable: Boolean, allocator: BufferAllocator) {
  val encoding = new DictionaryEncoding(id, false, new ArrowType.Int(32, true))
  /** The initial dictionary, registered with the file writer. */
  val vector = new VarCharVector(s"$name-dictionary", allocator)
  private val ids = new java.util.HashMap[UTF8String, Integer]
  private val pending = new java.util.ArrayList[UTF8String]
  prebuilt.foreach(v => add(UTF8String.fromString(v)))

  private def add(v: UTF8String): Int = {
    require(ids.size < IpcWriteSpec.MaxDictValues,
      s"column $name exceeded 65536 distinct values in one file — too " +
        "wide for dictionary encoding; write it plain")
    val next = ids.size
    ids.put(v, next)
    pending.add(v)
    next
  }

  def idOf(v: UTF8String): Int = {
    val known = ids.get(v)
    if (known != null) known.intValue
    else {
      require(growable, s"value outside the prebuilt dictionary for $name " +
        "(source mutated mid-write?)")
      add(v.clone()) // the row's bytes are reused for the next row
    }
  }

  def hasPending: Boolean = !pending.isEmpty

  /** Move the pending values into `dv`. */
  def drainInto(dv: VarCharVector): Unit = {
    dv.allocateNew(pending.size)
    var j = 0
    while (j < pending.size) { dv.setSafe(j, pending.get(j).getBytes); j += 1 }
    dv.setValueCount(pending.size)
    pending.clear()
  }
}

private final class IpcDataWriter(schema: StructType,
    tmpPath: HPath, finalPath: HPath, confSer: SerializableConfiguration,
    spec: IpcWriteSpec, lazyCreate: Boolean = false)
    extends DataWriter[InternalRow] {
  private val fs = tmpPath.getFileSystem(confSer.value)
  private val allocator = new RootAllocator()
  // encoded columns take dictionary ids in name order, so every file
  // of one write numbers them alike
  private val dicts: Seq[(String, DictColumn)] =
    (spec.prebuilt.keySet ++ spec.delta).toSeq.sorted.zipWithIndex.map {
      case (c, id) => c -> new DictColumn(c, id.toLong,
        spec.prebuilt.getOrElse(c, Array.empty), spec.delta.contains(c), allocator)
    }
  private val dictOf: Array[DictColumn] =
    schema.fields.map(f => dicts.find(_._1 == f.name).map(_._2).orNull)
  private val provider = new DictionaryProvider.MapDictionaryProvider()
  dicts.foreach { case (_, d) => provider.put(new Dictionary(d.vector, d.encoding)) }
  private val root = VectorSchemaRoot.create(new ArrowSchema(
    schema.fields.zip(dictOf).map {
      case (f, null) => Ipc.toArrowField(f.name, f.dataType, nullable = true)
      case (f, d) => new Field(f.name,
        new FieldType(true, new ArrowType.Int(32, true), d.encoding),
        java.util.Collections.emptyList[Field])
    }.toSeq.asJava), allocator)
  // batch writes are eager (a schema-only file per partition keeps the
  // directory self-describing); streaming epochs create the file only
  // when the first row arrives
  private var out: org.apache.hadoop.fs.FSDataOutputStream = null
  private var writer: IpcFileWriter = null
  private def ensureOpen(): Unit = if (writer == null) {
    out = fs.create(tmpPath, true)
    writer = new IpcFileWriter(
      root, provider, java.nio.channels.Channels.newChannel(out), spec.compression)
    writer.start()
  }
  if (!lazyCreate) ensureOpen()

  private val colTypes: Array[DataType] = schema.fields.map(_.dataType)
  private var n = 0
  private var batches = 0
  private var vectorsReady = false
  // per-column min/max/null accumulators for the .stats sidecar
  private val accs: Array[IpcStats.ColAcc] =
    schema.fields.map(new IpcStats.ColAcc(_))
  private var totalRows = 0L

  // values stream STRAIGHT into the Arrow vectors (setSafe grows
  // variable-width buffers); the per-batch allocateNew resets validity
  // so skipped (null) slots stay unset
  private def ensureVectors(): Unit = if (!vectorsReady) {
    var c = 0
    while (c < schema.length) {
      val vec = root.getVector(c)
      vec.setInitialCapacity(spec.batchRows)
      vec.allocateNew()
      c += 1
    }
    vectorsReady = true
  }

  override def write(row: InternalRow): Unit = {
    var c = 0
    while (c < schema.length) { accs(c).update(row, c); c += 1 }
    totalRows += 1
    ensureVectors()
    c = 0
    while (c < schema.length) {
      if (!row.isNullAt(c)) { // unset = null in Arrow validity
        if (dictOf(c) != null)
          root.getVector(c).asInstanceOf[IntVector]
            .setSafe(n, dictOf(c).idOf(row.getUTF8String(c)))
        else Ipc.setCatalystValue(root.getVector(c), n, colTypes(c),
          row.get(c, colTypes(c)))
      }
      c += 1
    }
    n += 1
    if (n == spec.batchRows) flush()
  }

  // n == 0 flushes only as an open dictionary file's first batch: an
  // empty partition still ships its dictionaries (and a zero-row
  // batch), so every file stays self-describing
  private def flush(): Unit =
    if (n > 0 || (batches == 0 && writer != null && dicts.nonEmpty)) {
      ensureOpen()
      ensureVectors()
      // dictionaries go out before the record batch indexing them: the
      // first batch's as the initial dictionary batches (the file
      // writer writes the provider's vectors before its first record
      // batch), later growth as isDelta batches
      dicts.foreach { case (_, d) =>
        if (batches == 0) d.drainInto(d.vector)
        else if (d.hasPending) {
          val dv = new VarCharVector(d.vector.getName, allocator)
          d.drainInto(dv)
          val deltaRoot = new VectorSchemaRoot(
            java.util.Arrays.asList(dv.getField),
            java.util.Arrays.asList[FieldVector](dv), dv.getValueCount)
          val db = new ArrowDictionaryBatch(d.encoding.getId,
            new VectorUnloader(deltaRoot).getRecordBatch, true)
          try writer.writeDelta(db)
          finally { db.close(); deltaRoot.close() }
        }
      }
      root.setRowCount(n)
      writer.writeBatch()
      batches += 1
      n = 0
      vectorsReady = false // next batch re-allocates (clears validity)
    }

  override def commit(): WriterCommitMessage = {
    flush()
    if (writer == null) IpcEmptyCommit // lazy writer saw no rows
    else {
      writer.end(); writer.close(); out.close()
      // stats sidecar rides the same temp→rename protocol; failure to
      // write it is non-fatal (stats are advisory — a data file with
      // no sidecar simply never prunes)
      val tmpStats = new HPath(tmpPath.toString + ".stats")
      val okStats =
        try {
          val o = fs.create(tmpStats, true)
          try o.write(IpcStats.toJson(totalRows, accs)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally o.close()
          true
        } catch { case _: Throwable => false }
      IpcCommitMessage(tmpPath.toString, finalPath.toString,
        if (okStats) tmpStats.toString else null,
        if (okStats) finalPath.toString + ".stats" else null)
    }
  }

  override def abort(): Unit = {
    // independent try blocks: a throw from writer.close() must not
    // leak the FSDataOutputStream, and a failed temp delete (e.g. FS
    // already down — the likely reason we're aborting) must not
    // propagate out of abort and mask the task's real failure
    if (writer != null) {
      try writer.close() catch { case _: Throwable => () }
      try out.close() catch { case _: Throwable => () }
      try fs.delete(tmpPath, false) catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = {
    root.close(); dicts.foreach(_._2.vector.close()); allocator.close()
  }
}
