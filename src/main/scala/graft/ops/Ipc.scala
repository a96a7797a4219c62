package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, DateDayVector, DecimalVector, DurationVector, FieldVector, Float4Vector, Float8Vector, IntVector, IntervalDayVector, IntervalYearVector, SmallIntVector, TimeMicroVector, TimeMilliVector, TimeNanoVector, TimeSecVector, TimeStampMicroTZVector, TimeStampMicroVector, TinyIntVector, VarBinaryVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.{ListVector, MapVector, StructVector}
import org.apache.arrow.vector.dictionary.Dictionary
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, IntervalUnit, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.fs.{FSDataInputStream, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.sources.ipc.IpcWriteSpec

/** Arrow IPC (Feather v2) file and stream codec — the reference's
  * native interchange format (`cpp/src/arrow/ipc/reader.h:58`
  * RecordBatchFileReader, `writer.h:54`, `feather.h:129`), built on
  * the Arrow Java library Spark already ships.
  *
  * Files have one codec, the `graft-ipc` DataSource V2 connector
  * ([[graft.sources.ipc.IpcDataSource]]); [[writeIpc]],
  * [[writeIpcDict]], [[writeIpcDictDelta]] and [[readIpc]] are entry
  * points over `df.write.format("graft-ipc")` and
  * `spark.read.format("graft-ipc")`. Writes emit one .arrow file per
  * partition from the executors (the `write_csv` model,
  * `rust/datafusion/src/execution/context.rs:451-496`) under the
  * connector's job-level commit; reads plan one partition per file or
  * record-batch split (`CsvExec::build_file_list`,
  * `physical_plan/csv.rs:31-66`) with the schema from one footer (the
  * `SourceFactory::Inspect` step, `dataset/discovery.h:55`). All file
  * I/O goes through the Hadoop FileSystem API, so the path may be any
  * Hadoop-supported filesystem.
  *
  * The STREAM format ([[writeIpcStreamTo]], [[readIpcStream]]) is the
  * Flight transport's codec: it converts `Row`s at its edges with an
  * encoder and fills and reads vectors through the same Catalyst
  * converters as the connector ([[setCatalystValue]],
  * [[getCatalystValue]]).
  *
  * Type coverage (the reference's `format/Schema.fbs:235-261` union
  * Type): the signed integer ladder TINYINT/SMALLINT/INT/BIGINT
  * (Arrow Int 8/16/32/64), FLOAT, DOUBLE, STRING, BOOLEAN, BINARY,
  * DATE, TIMESTAMP(µs, UTC), TIMESTAMP_NTZ(µs, zoneless), TIME
  * (written as TIME64[ns]; TIME32[s/ms] and TIME64[µs] widen on
  * read), INTERVAL DAY TO SECOND (written as Duration[µs]; any
  * Duration unit and Arrow's DAY_TIME pair convert on read),
  * INTERVAL YEAR TO MONTH (Interval[YEAR_MONTH]) — plus the
  * nested/parametric wire types LIST, STRUCT, MAP and DECIMAL(p,s)
  * as 128-bit, arbitrarily recursive (`list<float>` embeddings,
  * `map<string,bigint>` properties, decimal money columns all travel
  * losslessly). Nullable throughout, at every nesting level.
  */
object Ipc {

  private def ft(nullable: Boolean, t: ArrowType): FieldType =
    if (nullable) FieldType.nullable(t) else FieldType.notNullable(t)

  private val NoKids = java.util.Collections.emptyList[Field]

  /** Spark field → Arrow field, recursing through LIST/STRUCT/MAP.
    * Child naming follows the Arrow Java conventions ("element" for
    * list items; MapVector.DATA_VECTOR_NAME/KEY_NAME/VALUE_NAME for
    * maps) so files interchange with any Arrow implementation. */
  private[graft] def toArrowField(name: String, dt: DataType,
      nullable: Boolean): Field = dt match {
    case ArrayType(et, containsNull) =>
      new Field(name, ft(nullable, ArrowType.List.INSTANCE),
        java.util.Collections.singletonList(
          toArrowField("element", et, containsNull)))
    case st: StructType =>
      new Field(name, ft(nullable, ArrowType.Struct.INSTANCE),
        st.fields.map(f => toArrowField(f.name, f.dataType, f.nullable))
          .toSeq.asJava)
    case MapType(kt, vt, valueContainsNull) =>
      // map = list<entries: struct<key (non-null), value>>; the
      // entries struct itself is non-nullable per the Arrow spec
      val entries = new Field(MapVector.DATA_VECTOR_NAME,
        ft(nullable = false, ArrowType.Struct.INSTANCE),
        java.util.Arrays.asList(
          toArrowField(MapVector.KEY_NAME, kt, nullable = false),
          toArrowField(MapVector.VALUE_NAME, vt, valueContainsNull)))
      new Field(name, ft(nullable, new ArrowType.Map(false)),
        java.util.Collections.singletonList(entries))
    case d: DecimalType =>
      new Field(name,
        ft(nullable, new ArrowType.Decimal(d.precision, d.scale, 128)), NoKids)
    case flat =>
      val t = flat match {
        case LongType      => new ArrowType.Int(64, true)
        case IntegerType   => new ArrowType.Int(32, true)
        case ShortType     => new ArrowType.Int(16, true)
        case ByteType      => new ArrowType.Int(8, true)
        case DoubleType    => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case FloatType     => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
        case StringType    => ArrowType.Utf8.INSTANCE
        case BooleanType   => ArrowType.Bool.INSTANCE
        case BinaryType    => ArrowType.Binary.INSTANCE
        case DateType      => new ArrowType.Date(DateUnit.DAY)
        // Spark TimestampType is a µs-precision instant → UTC-zoned
        // Arrow timestamp (the SURVEY §1.2 ns-truncation convention
        // applies upstream of this sink); NTZ is the same width with
        // no zone — the wire distinction Arrow readers key on
        case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
        case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
        // Spark TIME stores nanos-of-day in a long → Arrow TIME64[ns]
        // (TIME32 variants are read-side only: they widen to nanos)
        case _: TimeType => new ArrowType.Time(TimeUnit.NANOSECOND, 64)
        // ANSI intervals: day-time is a µs count → Duration[µs]
        // (Arrow's DAY_TIME interval pair is read-side only);
        // year-month is a month count → Interval[YEAR_MONTH]
        case _: DayTimeIntervalType => new ArrowType.Duration(TimeUnit.MICROSECOND)
        case _: YearMonthIntervalType => new ArrowType.Interval(IntervalUnit.YEAR_MONTH)
        case other => throw new IllegalArgumentException(
          s"IPC sink supports bigint/int/smallint/tinyint/float/double/" +
            s"string/bool/binary/date/timestamp/timestamp_ntz/time/" +
            s"interval/decimal/array/struct/map, got $other for $name")
      }
      new Field(name, ft(nullable, t), NoKids)
  }

  private[graft] def toArrowSchema(s: StructType): ArrowSchema =
    new ArrowSchema(s.fields.map(f =>
      toArrowField(f.name, f.dataType, nullable = true)).toSeq.asJava)

  private[graft] def toSparkType(f: Field): DataType = f.getType match {
    case i: ArrowType.Int if i.getBitWidth == 64 && i.getIsSigned => LongType
    case i: ArrowType.Int if i.getBitWidth == 32 && i.getIsSigned => IntegerType
    case i: ArrowType.Int if i.getBitWidth == 16 && i.getIsSigned => ShortType
    case i: ArrowType.Int if i.getBitWidth == 8 && i.getIsSigned => ByteType
    case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
    case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
    case _: ArrowType.Utf8   => StringType
    case _: ArrowType.Bool   => BooleanType
    case _: ArrowType.Binary => BinaryType
    case d: ArrowType.Date if d.getUnit == DateUnit.DAY => DateType
    // zone presence picks instant vs wall-clock semantics; µs only
    // (the engine's convention — ns truncates upstream)
    case t: ArrowType.Timestamp
        if t.getUnit == TimeUnit.MICROSECOND && t.getTimezone == null =>
      TimestampNTZType
    case t: ArrowType.Timestamp if t.getUnit == TimeUnit.MICROSECOND => TimestampType
    // every Arrow TIME width widens losslessly into Spark's
    // nanos-of-day TIME (TIME32[s/ms] and TIME64[µs/ns]); declared
    // precision µs — Spark's TIME ceiling, and our own writer only
    // emits µs-precision values
    case _: ArrowType.Time => TimeType(TimeType.MICROS_PRECISION)
    case _: ArrowType.Duration => DayTimeIntervalType()
    case iv: ArrowType.Interval if iv.getUnit == IntervalUnit.YEAR_MONTH =>
      YearMonthIntervalType()
    case iv: ArrowType.Interval if iv.getUnit == IntervalUnit.DAY_TIME =>
      DayTimeIntervalType()
    // 128-bit only: the read kernels materialize DecimalVector, and a
    // decimal256 column slipping past inference would MatchError
    // mid-scan — fail at schema time with the standard message instead
    case d: ArrowType.Decimal if d.getBitWidth == 128 =>
      DecimalType(d.getPrecision, d.getScale)
    case _: ArrowType.List =>
      val elem = f.getChildren.get(0)
      ArrayType(toSparkType(elem), containsNull = elem.isNullable)
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.toSeq.map(ch =>
        StructField(ch.getName, toSparkType(ch), nullable = ch.isNullable)))
    case _: ArrowType.Map =>
      val entries = f.getChildren.get(0)
      val vf = entries.getChildren.get(1)
      MapType(toSparkType(entries.getChildren.get(0)), toSparkType(vf),
        valueContainsNull = vf.isNullable)
    case other => throw new IllegalArgumentException(
      s"IPC source supports signed int8-64/float/double/string/bool/" +
        s"binary/date/timestamp[µs]/time/duration/interval/decimal128/" +
        s"list/struct/map, got $other for ${f.getName}")
  }

  // ---- temporal payload conversions (Arrow → Catalyst) ----
  // Catalyst encodings: TIME = nanos-of-day long, DayTimeInterval = µs
  // long, YearMonthInterval = months int, TimestampNTZ = µs long.
  // Arrow TIME32/64 widen to nanos-of-day; duration units widen to µs
  // (ns floor-divides — the engine's µs convention)
  private def timeVectorNanos(vec: FieldVector, r: Int): Long = vec match {
    case v: TimeNanoVector  => v.get(r)
    case v: TimeMicroVector => math.multiplyExact(v.get(r), 1000L)
    case v: TimeMilliVector => v.get(r).toLong * 1000000L
    case v: TimeSecVector   => v.get(r).toLong * 1000000000L
    case other => throw new IllegalArgumentException(
      s"unsupported time vector ${other.getClass.getName}")
  }
  private def durationVectorMicros(v: DurationVector, r: Int): Long = {
    // allocation-free (this sits in the DSv2 row-reader hot kernel):
    // read the raw count and scale by the declared unit; ns
    // floor-divides to µs (the engine's µs convention)
    val raw = org.apache.arrow.vector.DurationVector.get(v.getDataBuffer, r)
    v.getUnit match {
      case TimeUnit.MICROSECOND => raw
      case TimeUnit.NANOSECOND  => math.floorDiv(raw, 1000L)
      case TimeUnit.MILLISECOND => math.multiplyExact(raw, 1000L)
      case TimeUnit.SECOND      => math.multiplyExact(raw, 1000000L)
    }
  }
  // Arrow DAY_TIME interval pair (days, millis) → µs. Allocation-free
  // like durationVectorMicros above (same DSv2 row-reader hot kernel):
  // each element is a packed 8-byte (int days, int millis) pair, read
  // straight from the data buffer instead of via a per-row holder.
  private def intervalDayMicros(v: IntervalDayVector, r: Int): Long = {
    val base = r.toLong * 8L
    val buf = v.getDataBuffer
    math.addExact(
      math.multiplyExact(buf.getInt(base).toLong, 86400000000L),
      math.multiplyExact(buf.getInt(base + 4L).toLong, 1000L))
  }

  /** Catalyst rows out of the batch loaded into `root`: the columns at
    * `cols`, each read through its dictionary when encoded
    * (`Message.fbs` DictionaryBatch — indices in the record batch,
    * values in the dictionary batch, at any index width: pandas/pyarrow
    * categoricals pick the narrowest of int8/16/32/64). Vectors bind
    * once — file and stream readers reload the same vectors batch after
    * batch, and an isDelta batch grows its dictionary's vector in
    * place. Serves the connector's row reader and the stream reader. */
  private[graft] final class CatalystRows(root: VectorSchemaRoot,
      dicts: java.util.Map[java.lang.Long, Dictionary], cols: Array[Int]) {
    private val vecs: Array[FieldVector] = cols.map(root.getVector)
    private val values: Array[FieldVector] = vecs.map { v =>
      val enc = v.getField.getDictionary
      if (enc == null) null
      else dicts.get(enc.getId).getVector.asInstanceOf[FieldVector]
    }

    def row(r: Int): InternalRow = {
      val out = new Array[Any](vecs.length)
      var c = 0
      while (c < vecs.length) {
        val v = vecs(c)
        out(c) = if (v.isNull(r)) null
          else if (values(c) == null) getCatalystValue(v, r)
          // toIntExact: an int64 index above Int.MaxValue must fail
          // loudly, not truncate into a wrong-but-valid slot
          else getCatalystValue(values(c), Math.toIntExact(
            v.asInstanceOf[org.apache.arrow.vector.BaseIntVector].getValueAsLong(r)))
        c += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
  }

  /** The Spark schema of a loaded file or stream: every column
    * nullable, dictionary-encoded ones at their value type. */
  private[graft] def sparkSchema(root: VectorSchemaRoot,
      dicts: java.util.Map[java.lang.Long, Dictionary]): StructType =
    StructType(root.getSchema.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, resolvedSparkType(f, dicts), nullable = true)))

  /** Catalyst-encoded value → Arrow vector slot, the kernel of every
    * writer (the connector's file writer and the stream codec). Nested
    * vectors recurse: a value skipped (null) at any level stays invalid
    * in the Arrow validity bitmap — Arrow Java's fill-holes machinery
    * (variable-width fillEmpties, ListVector lastSet) keeps offset
    * buffers consistent around the gaps. `value` is non-null
    * and carries InternalRow encodings: UTF8String, days-int dates,
    * µs-long timestamps, Decimal, ArrayData, InternalRow, MapData. */
  private[graft] def setCatalystValue(vec: FieldVector, r: Int,
      dt: DataType, value: Any): Unit = vec match {
    case v: BigIntVector => v.setSafe(r, value.asInstanceOf[Long])
    case v: IntVector    => v.setSafe(r, value.asInstanceOf[Int])
    case v: SmallIntVector => v.setSafe(r, value.asInstanceOf[Short])
    case v: TinyIntVector  => v.setSafe(r, value.asInstanceOf[Byte])
    case v: Float8Vector => v.setSafe(r, value.asInstanceOf[Double])
    case v: Float4Vector => v.setSafe(r, value.asInstanceOf[Float])
    case v: VarCharVector =>
      v.setSafe(r, value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case v: BitVector => v.setSafe(r, if (value.asInstanceOf[Boolean]) 1 else 0)
    case v: VarBinaryVector => v.setSafe(r, value.asInstanceOf[Array[Byte]])
    case v: DateDayVector => v.setSafe(r, value.asInstanceOf[Int])
    case v: TimeStampMicroTZVector => v.setSafe(r, value.asInstanceOf[Long])
    // Catalyst temporals are already the wire integers: NTZ µs long,
    // TIME nanos long, day-time interval µs long, year-month months int
    case v: TimeStampMicroVector => v.setSafe(r, value.asInstanceOf[Long])
    case v: TimeNanoVector => v.setSafe(r, value.asInstanceOf[Long])
    case v: DurationVector => v.setSafe(r, value.asInstanceOf[Long])
    case v: IntervalYearVector => v.setSafe(r, value.asInstanceOf[Int])
    case v: DecimalVector =>
      v.setSafe(r, value.asInstanceOf[Decimal].toJavaBigDecimal
        .setScale(v.getScale))
    case v: MapVector => // before ListVector: MapVector extends it
      val mt = dt.asInstanceOf[MapType]
      val m = value.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val keys = m.keyArray(); val vals = m.valueArray()
      val start = v.startNewValue(r)
      val entries = v.getDataVector.asInstanceOf[StructVector]
      val kv = entries.getChildByOrdinal(0).asInstanceOf[FieldVector]
      val vv = entries.getChildByOrdinal(1).asInstanceOf[FieldVector]
      var i = 0
      val n = m.numElements()
      while (i < n) {
        entries.setIndexDefined(start + i)
        setCatalystValue(kv, start + i, mt.keyType, keys.get(i, mt.keyType))
        if (!vals.isNullAt(i))
          setCatalystValue(vv, start + i, mt.valueType, vals.get(i, mt.valueType))
        i += 1
      }
      v.endValue(r, n)
    case v: ListVector =>
      val et = dt.asInstanceOf[ArrayType].elementType
      val arr = value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val start = v.startNewValue(r)
      val dv = v.getDataVector
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) setCatalystValue(dv, start + i, et, arr.get(i, et))
        i += 1
      }
      v.endValue(r, n)
    case v: StructVector =>
      val st = dt.asInstanceOf[StructType]
      val row = value.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      v.setIndexDefined(r)
      val kids = v.getChildrenFromFields
      var i = 0
      while (i < kids.size()) {
        if (!row.isNullAt(i))
          setCatalystValue(kids.get(i), r, st.fields(i).dataType,
            row.get(i, st.fields(i).dataType))
        i += 1
      }
  }

  /** Arrow vector slot → Catalyst-encoded value, the kernel of the
    * connector's row reader and the stream codec (the columnar reader
    * wraps vectors in Spark's own nested-aware ArrowColumnVector
    * instead). It widens every Arrow width the schema maps. */
  private[graft] def getCatalystValue(vec: FieldVector, r: Int): Any =
    vec match {
      case v: BigIntVector    => v.get(r)
      case v: IntVector       => v.get(r)
      case v: SmallIntVector  => v.get(r)
      case v: TinyIntVector   => v.get(r)
      case v: Float8Vector    => v.get(r)
      case v: Float4Vector    => v.get(r)
      case v: VarCharVector   =>
        org.apache.spark.unsafe.types.UTF8String.fromBytes(v.get(r))
      case v: BitVector       => v.get(r) == 1
      case v: VarBinaryVector => v.get(r)
      // Catalyst encodings: date = days int, timestamp/NTZ = µs long,
      // TIME = nanos long, day-time interval = µs long (any source
      // unit widens), year-month interval = months int
      case v: DateDayVector          => v.get(r)
      case v: TimeStampMicroTZVector => v.get(r)
      case v: TimeStampMicroVector   => v.get(r)
      case _: TimeNanoVector | _: TimeMicroVector | _: TimeMilliVector |
          _: TimeSecVector => timeVectorNanos(vec, r)
      case v: DurationVector    => durationVectorMicros(v, r)
      case v: IntervalYearVector => v.get(r)
      case v: IntervalDayVector  => intervalDayMicros(v, r)
      case v: DecimalVector =>
        Decimal(v.getObject(r), v.getPrecision, v.getScale)
      case v: MapVector => // before ListVector: MapVector extends it
        val start = v.getElementStartIndex(r)
        val end = v.getElementEndIndex(r)
        val entries = v.getDataVector.asInstanceOf[StructVector]
        val kv = entries.getChildByOrdinal(0).asInstanceOf[FieldVector]
        val vv = entries.getChildByOrdinal(1).asInstanceOf[FieldVector]
        val keys = new Array[Any](end - start)
        val vals = new Array[Any](end - start)
        var i = start
        while (i < end) {
          keys(i - start) = getCatalystValue(kv, i)
          vals(i - start) = if (vv.isNull(i)) null else getCatalystValue(vv, i)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
      case v: ListVector =>
        val start = v.getElementStartIndex(r)
        val end = v.getElementEndIndex(r)
        val dv = v.getDataVector
        val out = new Array[Any](end - start)
        var i = start
        while (i < end) {
          out(i - start) = if (dv.isNull(i)) null else getCatalystValue(dv, i)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case v: StructVector =>
        val kids = v.getChildrenFromFields
        val out = new Array[Any](kids.size())
        var i = 0
        while (i < kids.size()) {
          val ch = kids.get(i)
          out(i) = if (ch.isNull(r)) null else getCatalystValue(ch, r)
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }

  private[graft] val BatchRows = 4096

  /** Record-batch BODY-BUFFER compression, the reference's
    * `ipc/options.h` `IpcWriteOptions::codec` (`format/Message.fbs`
    * BodyCompression, LZ4_FRAME | ZSTD): each Arrow buffer in a batch
    * ships as an independently-compressed frame, so readers still
    * random-access batches through the footer — compression is
    * per-buffer, not per-file. Names accepted: `zstd`, `lz4`,
    * `none`/`uncompressed`. */
  private[graft] def codecTypeOf(name: String): org.apache.arrow.vector.compression.CompressionUtil.CodecType = {
    import org.apache.arrow.vector.compression.CompressionUtil.CodecType
    name.toLowerCase match {
      case "zstd"                  => CodecType.ZSTD
      case "lz4" | "lz4_frame"     => CodecType.LZ4_FRAME
      case "none" | "uncompressed" => CodecType.NO_COMPRESSION
      case other => throw new IllegalArgumentException(
        s"unknown IPC compression codec '$other' (expected zstd, lz4, none)")
    }
  }
  /** The codec factory every reader and writer passes: ZSTD through
    * native zstd-jni, LZ4_FRAME through native lz4-java
    * ([[graft.sources.ipc.GraftCompressionFactory]] — the stock
    * commons-compress LZ4 path measured ~10x slower on writes). A
    * free no-op on uncompressed files, so ALL read paths accept
    * compressed input untouched. */
  private[graft] def readCodecs: org.apache.arrow.vector.compression.CompressionCodec.Factory =
    graft.sources.ipc.GraftCompressionFactory

  /** Distributed IPC write through the connector: each task streams
    * its partition into its own Arrow file in `dir` (the directory's
    * previous files are replaced), [[BatchRows]] rows per record batch
    * — rows never leave their executor. */
  def writeIpc(df: DataFrame, dir: String): Unit = writeIpc(df, dir, "none")

  /** [[writeIpc]] with body-buffer compression (`zstd` or `lz4`): every
    * record batch's buffers individually compressed per the Arrow
    * BodyCompression spec. The reader decodes transparently; so does
    * any stock Arrow reader built with a compression factory. */
  def writeIpc(df: DataFrame, dir: String, compression: String): Unit =
    save(df, dir, Map("compression" -> compression))

  /** Dictionary-encoded IPC write (`format/Message.fbs` DictionaryBatch,
    * `cpp/src/arrow/ipc/writer.h:54` dictionary support): the named
    * low-cardinality STRING columns ship as int32 indices plus one
    * dictionary batch per file instead of repeated UTF-8 bytes.
    *
    * The dictionary is GLOBAL and driver-built ([[dictionaries]]: one
    * aggregation collects every column's value set, sorted so ids are
    * deterministic), bounded at 65536 values — dictionary encoding is
    * for columns you KNOW are low-cardinality (statuses, priorities,
    * country codes); anything wider should ship plain. The values
    * reach the writers as the connector's `dictionary` option. Every
    * file carries the full dictionary, so each stays self-describing
    * and the readers never coordinate across files. */
  def writeIpcDict(df: DataFrame, dir: String, dictCols: Seq[String],
      compression: String = "none"): Unit =
    save(df, dir, Map("compression" -> compression,
      "dictionary" -> IpcWriteSpec.dictionaryOption(dictionaries(df, dictCols))))

  /** Dictionary-encoded IPC write with STREAMING per-file dictionaries
    * (reference `format/Message.fbs:69-79` `isDelta`;
    * `cpp/src/arrow/ipc/writer.h` IpcWriteOptions
    * `emit_dictionary_deltas`), the connector's `deltaDictionary`
    * option: no driver-side pass — each task discovers its values as
    * it writes, ships the first batch's values as the initial
    * DictionaryBatch and every later batch's NEW values as `isDelta`
    * extensions, the append-only grammar [[DeltaIpcFileReader]] (and
    * pyarrow's file reader) decode. This is the form for
    * dictionary-encoding a 100 TB write whose value set is unknown up
    * front: zero extra jobs, zero cross-task coordination, and each
    * file's dictionary holds exactly the values that file uses. The
    * 65536-distinct cap refuses per file, mid-write. [[writeIpcDict]]
    * keeps the prebuilt global form (deterministic ids shared across
    * files, one non-delta batch — pinned by IpcPropertySpec's message
    * walk). */
  def writeIpcDictDelta(df: DataFrame, dir: String, dictCols: Seq[String],
      batchRows: Int = BatchRows): Unit =
    save(df, dir, Map("deltaDictionary" -> dictCols.mkString(","),
      "batchRows" -> batchRows.toString))

  // a bad codec name fails here as itself, before any planning
  private def save(df: DataFrame, dir: String,
      options: Map[String, String]): Unit = {
    options.get("compression").foreach(codecTypeOf)
    df.write.format("graft-ipc").mode("overwrite").options(options).save(dir)
  }

  /** Every dictionary column's sorted distinct non-null values, from
    * ONE aggregation: the (column, value) pairs are made distinct (a
    * partial, spilling aggregation), then numbered within their column
    * in value order; the driver collects at most 65537 numbered values
    * per column — enough to refuse a column past the cap without
    * holding its whole value set. */
  private def dictionaries(df: DataFrame,
      dictCols: Seq[String]): Map[String, Array[String]] = {
    IpcWriteSpec.requireStrings(df.schema, dictCols)
    if (dictCols.isEmpty) return Map.empty
    val numbered = df.select(inline(array(dictCols.zipWithIndex.map {
        case (c, i) => struct(lit(i).as("c"), col(c).as("v")) }: _*)))
      .where(col("v").isNotNull).distinct()
      .withColumn("id", row_number().over(Window.partitionBy("c").orderBy("v")))
      .where(col("id") <= 65537)
      .collect()
    dictCols.zipWithIndex.map { case (c, i) =>
      val vals = numbered.filter(_.getInt(0) == i).sortBy(_.getInt(2))
        .map(_.getString(1))
      require(vals.length <= 65536,
        s"column $c has more than 65536 distinct values — too wide for a " +
          "broadcast dictionary; write it plain")
      c -> vals
    }.toMap
  }

  /** Minimal SeekableByteChannel over a Hadoop FSDataInputStream, the
    * shape ArrowFileReader needs to reach the footer of a file on any
    * Hadoop filesystem. */
  private[graft] final class HadoopSeekableChannel(in: FSDataInputStream, len: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var closed = false
    override def read(dst: java.nio.ByteBuffer): Int = {
      val want = dst.remaining()
      if (want == 0) return 0
      val buf = new Array[Byte](want)
      val got = in.read(buf, 0, want)
      if (got > 0) dst.put(buf, 0, got)
      got
    }
    override def write(src: java.nio.ByteBuffer): Int =
      throw new java.nio.channels.NonWritableChannelException
    override def position(): Long = in.getPos
    override def position(p: Long): java.nio.channels.SeekableByteChannel = {
      in.seek(p); this
    }
    override def size(): Long = len
    override def truncate(s: Long): java.nio.channels.SeekableByteChannel =
      throw new java.nio.channels.NonWritableChannelException
    override def isOpen: Boolean = !closed
    override def close(): Unit = { closed = true; in.close() }
  }

  /** [[ArrowFileReader]] that also loads DELTA dictionary batches
    * (reference `format/Message.fbs:69-79` `isDelta`). Arrow Java's
    * file reader `initialize()` loads exactly ONE dictionary block per
    * dictionary id and `loadNextBatch()` never returns to the
    * dictionary blocks, so the isDelta extensions a producer like
    * pyarrow (`emit_dictionary_deltas`) appends after the first block
    * are silently IGNORED — record batches then index past the end of
    * the truncated dictionary. [[loadDeltaDictionaries]] drains the
    * remaining blocks through the inherited `loadDictionary`, which
    * appends isDelta batches to the id's existing vector in place
    * (VectorBatchAppender) — so getters holding that vector see the
    * grown dictionary. Append-only extension means decoding EVERY
    * batch against the final dictionary is exact: earlier batches'
    * indices point into the prefix. The stream reader needs none of
    * this (it loads dictionary messages inline as they arrive). */
  private[graft] final class DeltaIpcFileReader(
      ch: java.nio.channels.SeekableByteChannel,
      alloc: org.apache.arrow.memory.BufferAllocator,
      codecs: org.apache.arrow.vector.compression.CompressionCodec.Factory)
      extends ArrowFileReader(ch, alloc, codecs) {
    def loadDeltaDictionaries(): Unit = {
      ensureInitialized()
      val total = getDictionaryBlocks.size
      var loaded = getDictionaryIds.size
      while (loaded < total) {
        loadDictionary(readDictionary()) // same pattern as initialize()
        loaded += 1
      }
    }
  }

  /** Resolve a (possibly dictionary-encoded) column's Spark type: an
    * encoded field's in-memory vector is index-typed; the LOGICAL type
    * lives on the dictionary's value vector. */
  private[graft] def resolvedSparkType(f: Field,
      dicts: java.util.Map[java.lang.Long, Dictionary]): DataType =
    if (f.getDictionary == null) toSparkType(f)
    else toSparkType(dicts.get(f.getDictionary.getId).getVector.getField)

  /** Distributed IPC read through the connector: schema from one
    * file's footer, one scan partition per file or record-batch split,
    * each file's columns bound by name, dictionary-encoded columns
    * (written by [[writeIpcDict]] or any Arrow producer) decoded to
    * their value types. Refuses a directory with no .arrow files. */
  def readIpc(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft-ipc").load(dir)

  /** Arrow IPC STREAM format (`ipc/reader.h:58`
    * RecordBatchStreamReader): the unseekable wire variant of the file
    * format — no footer, schema first, batches until EOS. Byte-array
    * in/out (the transport payload shape); same type subset. Used for
    * handing batches to another process over a socket/pipe, not for
    * at-rest storage — EgressSpec round-trips it in memory. */
  def writeIpcStream(rows: Seq[Row], schema: StructType): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    writeIpcStreamTo(rows.iterator, schema, bos)
    bos.toByteArray
  }

  /** Incremental stream-format writer: encodes `rows` to Catalyst rows
    * and drains them in [[BatchRows]] batches straight to `out`
    * (socket, pipe, file), holding at most one batch in memory — the
    * transport-side half of the codec. */
  def writeIpcStreamTo(rows: Iterator[Row], schema: StructType,
      out: java.io.OutputStream, compression: String = "none"): Unit = {
    val toInternal = withTimeType(
      ExpressionEncoder(schema, lenient = true).createSerializer())
    val types = schema.fields.map(_.dataType)
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
    val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null,
      java.nio.channels.Channels.newChannel(out),
      org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT, readCodecs,
      codecTypeOf(compression))
    // A failing row iterator (e.g. a query error mid-stream) must not
    // leak the allocator's direct buffers — but it must also NOT close
    // the writer: ArrowStreamWriter.close() calls end(), which emits
    // the Arrow end-of-stream marker, and any stream consumer would
    // then accept the partial rows as a complete result. On error we
    // release only root + allocator, so the consumer sees a TRUNCATED
    // stream (a protocol error) — IpcSpec pins this.
    var ok = false
    try {
      writer.start()
      var n = 0
      def flush(): Unit = { root.setRowCount(n); writer.writeBatch(); n = 0 }
      rows.foreach { external =>
        if (n == 0) root.allocateNew() // clears the previous batch
        val row = toInternal(external)
        var c = 0
        while (c < types.length) {
          if (!row.isNullAt(c)) // unset = null in Arrow validity
            setCatalystValue(root.getVector(c), n, types(c), row.get(c, types(c)))
          c += 1
        }
        n += 1
        if (n == BatchRows) flush()
      }
      if (n > 0) flush()
      writer.end()
      ok = true
    } finally {
      if (ok) try writer.close() finally { root.close(); allocator.close() }
      else try root.close() finally allocator.close()
    }
  }

  // The stream codec builds its encoders under one fixed conf, whichever
  // thread calls it (a Flight gRPC thread with no session, an executor
  // task): Spark's defaults — java.sql dates and timestamps, as the
  // codec has always produced — plus the TIME type, which they leave off.
  private def withTimeType[T](build: => T): T = {
    val conf = new SQLConf
    conf.setConfString(SQLConf.TIME_TYPE_ENABLED.key, "true")
    SQLConf.withExistingConf(conf)(build)
  }

  /** Stream-format read: schema from the stream head, batches to EOS,
    * each row decoded to Catalyst and converted at the edge with an
    * encoder. */
  def readIpcStream(bytes: Array[Byte]): (Seq[Row], StructType) = {
    val allocator = new RootAllocator()
    // try/finally: a truncated or corrupt stream must not leak the
    // allocator's direct buffers
    val rd = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), allocator, readCodecs)
    try {
      val root = rd.getVectorSchemaRoot
      // dictionary messages arrive on the wire BEFORE the first record
      // batch, so the decoder (and dictionary-resolved types) bind
      // after the first loadNextBatch
      var rowsOf: CatalystRows = null
      var toExternal: ExpressionEncoder.Deserializer[Row] = null
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (rd.loadNextBatch()) {
        if (rowsOf == null) {
          rowsOf = new CatalystRows(root, rd.getDictionaryVectors,
            Array.range(0, root.getFieldVectors.size))
          toExternal = withTimeType(
            ExpressionEncoder(sparkSchema(root, rd.getDictionaryVectors))
              .resolveAndBind().createDeserializer())
        }
        var r = 0
        while (r < root.getRowCount) { out += toExternal(rowsOf.row(r)); r += 1 }
      }
      (out.toSeq, sparkSchema(root, rd.getDictionaryVectors))
    } finally {
      try rd.close() finally allocator.close()
    }
  }

  /** IPC round-trip query: project orders to the IPC type subset,
    * write one Arrow file per partition, re-discover + read, and
    * aggregate — lossless round-trip proven by the oracle hash over
    * the ORIGINAL parquet. */
  def qIpcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc"
    writeIpc(
      Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        // spread over several files so the read half demonstrably
        // plans one partition per file
        .repartition(4, col("o_orderkey")),
      out)
    readIpc(s, out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  val qIpcRoundtripSql: String = s"""
    SELECT o_orderstatus, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS total_price,
      MAX(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
  """.trim

  /** Extended-ladder round trip (reference `format/Schema.fbs:235-261`
    * union Type beyond the nine base primitives): TINYINT/SMALLINT
    * (Arrow Int 8/16), TIMESTAMP_NTZ (zoneless µs), TIME (TIME64[ns]),
    * INTERVAL DAY TO SECOND (Duration[µs]) and INTERVAL YEAR TO MONTH
    * (Interval[YEAR_MONTH]) — written once, read back twice through
    * the connector, once via [[readIpc]] and once via `spark.read`
    * (union'd: both halves now run the one reader, so the doubled
    * aggregates pin that the entry point and the format agree), then
    * reduced to engine-neutral longs/strings the DuckDB oracle can
    * recompute from the original parquet. Foreign widths the writer
    * never emits (TIME32, TIME64[µs], DAY_TIME) are IpcSpec's. */
  def qIpcTypes(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_types"
    val src = Tables(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderdate"),
      (col("o_orderkey") % 120 - 60).cast("tinyint").as("b"),
      (col("o_orderkey") % 30000 - 15000).cast("smallint").as("sh"),
      col("o_orderdate").cast("timestamp_ntz").as("ntz"),
      expr("CAST(LPAD(CAST(o_orderkey % 24 AS STRING), 2, '0') || ':' || " +
        "LPAD(CAST(o_orderkey % 60 AS STRING), 2, '0') || ':' || " +
        "LPAD(CAST(o_orderkey % 60 AS STRING), 2, '0') AS TIME)").as("t"),
      expr("make_dt_interval(0, 0, 0, CAST(o_orderkey % 7200 AS INT))")
        .as("dti"),
      expr("make_ym_interval(0, CAST(o_orderkey % 25 AS INT) - 12)")
        .as("ymi"))
      .repartition(4, col("o_orderkey"))
    writeIpc(src, out)
    val viaCodec = readIpc(s, out)
    val viaDsv2 = s.read.format("graft-ipc").load(out)
      .select(viaCodec.columns.map(col).toIndexedSeq: _*)
    viaCodec.unionAll(viaDsv2).agg(
      count(lit(1)).as("n"),
      sum(col("b").cast("long")).as("sum_b"),
      sum(col("sh").cast("long")).as("sum_sh"),
      max(col("ntz").cast("string")).as("max_ntz"),
      sum((expr("hour(t)") * 3600 + expr("minute(t)") * 60 +
        expr("second(t)")).cast("long")).as("sum_t"),
      max(expr("CAST(ntz + dti AS STRING)")).as("max_dti_ts"),
      max(expr("CAST(CAST(o_orderdate + ymi AS DATE) AS STRING)"))
        .as("max_ymi_d"))
  }

  val qIpcTypesSql: String = """
    WITH src AS (
      SELECT o_orderkey, o_orderdate,
        CAST(o_orderkey % 120 - 60 AS TINYINT) AS b,
        CAST(o_orderkey % 30000 - 15000 AS SMALLINT) AS sh,
        CAST(o_orderdate AS TIMESTAMP) AS ntz,
        CAST(LPAD(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
             LPAD(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || ':' ||
             LPAD(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') AS TIME) AS t,
        INTERVAL (o_orderkey % 7200) SECOND AS dti,
        INTERVAL (CAST(o_orderkey % 25 AS INT) - 12) MONTH AS ymi
      FROM orders),
    doubled AS (SELECT * FROM src UNION ALL SELECT * FROM src)
    SELECT COUNT(*) AS n,
      CAST(SUM(CAST(b AS BIGINT)) AS BIGINT) AS sum_b,
      CAST(SUM(CAST(sh AS BIGINT)) AS BIGINT) AS sum_sh,
      MAX(CAST(ntz AS VARCHAR)) AS max_ntz,
      CAST(SUM(CAST(EXTRACT(hour FROM t)*3600 + EXTRACT(minute FROM t)*60
        + EXTRACT(second FROM t) AS BIGINT)) AS BIGINT) AS sum_t,
      MAX(CAST(ntz + dti AS VARCHAR)) AS max_dti_ts,
      MAX(CAST(CAST(o_orderdate + ymi AS DATE) AS VARCHAR)) AS max_ymi_d
    FROM doubled
  """.trim

  /** The same round-trip through the DataSource V2 connector
    * ([[graft.sources.ipc.IpcDataSource]], format "graft-ipc"):
    * `df.write.format(...)` runs the job-commit write, `spark.read
    * .format(...)` plans a BatchScan with one partition per file, and
    * the aggregation only references two of the three written columns
    * — so Catalyst pushes a pruned required schema into the scan
    * (asserted in EgressSpec). Lossless vs the original parquet is
    * what the oracle hash proves. */
  def qIpcDsv2(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_dsv2"
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartition(4, col("o_orderkey"))
      .write.format("graft-ipc").mode("overwrite").save(out)
    s.read.format("graft-ipc").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  val qIpcDsv2Sql: String = s"""
    SELECT o_orderstatus, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS total_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
  """.trim

  /** Body-buffer compression round trip (reference `ipc/options.h`
    * IpcWriteOptions::codec, `format/Message.fbs` BodyCompression —
    * LZ4_FRAME and ZSTD): orders written twice, once ZSTD through
    * [[writeIpc]] and read back through `spark.read`, once LZ4 through
    * `option("compression","lz4")` and read back through [[readIpc]] —
    * one connector underneath every entry point. Aggregates are tagged
    * per codec; a corrupted buffer in either codec breaks its rows. At
    * 100 TB, buffer compression is the interchange bandwidth knob:
    * frames are per-buffer, so the footer's batch offsets stay valid
    * and compression costs no scan parallelism or random access. */
  def qIpcCompressed(s: SparkSession, dir: String): DataFrame = {
    val base = Egress.outRoot(dir) + "/orders_ipc_comp"
    val src = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .repartition(4, col("o_orderkey"))
    writeIpc(src, s"$base/zstd", "zstd")
    src.write.format("graft-ipc").mode("overwrite")
      .option("compression", "lz4").save(s"$base/lz4")
    def prof(df: DataFrame, codec: String): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total_price"),
          sum(length(col("o_orderpriority"))).as("prio_chars"))
        .withColumn("codec", lit(codec))
    prof(s.read.format("graft-ipc").load(s"$base/zstd"), "zstd")
      .unionByName(prof(readIpc(s, s"$base/lz4"), "lz4"))
      .orderBy("codec", "o_orderstatus")
  }

  val qIpcCompressedSql: String = s"""
    WITH p AS (
      SELECT o_orderstatus, COUNT(*) AS n,
        ${dsumSql("o_totalprice")} AS total_price,
        CAST(SUM(length(o_orderpriority)) AS BIGINT) AS prio_chars
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus, n, total_price, prio_chars, codec
    FROM p CROSS JOIN (SELECT unnest(['zstd', 'lz4']) AS codec)
    ORDER BY codec, o_orderstatus
  """.trim

  /** Stats-based file skipping under an ORACLE: orders written as a
    * range-partitioned graft-ipc layout (8 files with disjoint
    * o_orderkey ranges + min/max sidecars), then a key-range query
    * reads it back — planning opens only the files whose sidecar
    * ranges intersect the predicate, and the answer must equal the
    * same query on the parquet original. The skipping is invisible to
    * semantics (every filter stays residual); this row pins that. */
  def qIpcSkip(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_skip"
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .repartitionByRange(8, col("o_orderkey"))
      .write.format("graft-ipc").mode("overwrite").save(out)
    s.read.format("graft-ipc").load(out)
      .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  val qIpcSkipSql: String = s"""
    SELECT o_orderpriority, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS total_price
    FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
  """.trim

  /** Sidecar-answered MIN/MAX/COUNT under an oracle: the whole
    * directory's extremes fold from per-file sidecar bounds (column
    * data never opened — EgressSpec asserts the plan), equal to the
    * parquet-side answer bit-for-bit. */
  def qIpcMinMax(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_minmax"
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_orderdate").cast(org.apache.spark.sql.types.DateType).as("odate"),
        col("o_orderpriority"))
      .repartition(4, col("o_orderkey"))
      .write.format("graft-ipc").mode("overwrite").save(out)
    s.read.format("graft-ipc").load(out)
      .agg(min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("odate")).as("first_date"),
        max(col("odate")).as("last_date"),
        // string extremes fold from UTF8-byte-order sidecar bounds —
        // same sidecar-only plan, oracle-matched against DuckDB's
        // (binary-collation) MIN/MAX on the raw table
        min(col("o_orderpriority")).as("min_prio"),
        max(col("o_orderpriority")).as("max_prio"),
        count(lit(1)).as("n"))
  }

  val qIpcMinMaxSql: String = """
    SELECT CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
      CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
      MIN(CAST(o_orderdate AS DATE)) AS first_date,
      MAX(CAST(o_orderdate AS DATE)) AS last_date,
      MIN(o_orderpriority) AS min_prio,
      MAX(o_orderpriority) AS max_prio,
      COUNT(*) AS n
    FROM orders
  """.trim

  /** Nested-type IPC round-trip under an ORACLE: the flagship
    * `list<float>` embedding column plus a struct, a map and a
    * DECIMAL(14,2) travel through the Arrow file codec
    * (`format/Schema.fbs:235-261` LIST/STRUCT/MAP/DECIMAL through
    * `ipc/writer.h:54`), and the proof of losslessness is per-ELEMENT:
    * the read-back arrays are exploded so every single float crosses
    * the hash-compare against the parquet original (float→double cast
    * is exact — no aggregation ordering in play), and the struct/map/
    * decimal fields are projected to scalars beside them. */
  def qIpcNested(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/embeddings_ipc_nested"
    val src = Tables(s, dir, "embeddings")
      .filter(col("vec_id") < 48)
      .select(
        col("vec_id"),
        col("embedding"),
        struct(col("vec_id").as("id"), size(col("embedding")).as("dim"))
          .as("meta"),
        map(lit("dim"), size(col("embedding")).cast(LongType),
            lit("vid2"), (col("vec_id") * 2).cast(LongType)).as("props"),
        (col("vec_id").cast(DecimalType(12, 2)) *
          lit(new java.math.BigDecimal("1.25")).cast(DecimalType(4, 2)))
          .cast(DecimalType(14, 2)).as("dval"))
      .repartition(3, col("vec_id"))
    writeIpc(src, out)
    readIpc(s, out)
      .select(col("vec_id"), col("meta"), col("props"), col("dval"),
        posexplode(col("embedding")))
      .select(col("vec_id"),
        (col("pos") + 1).cast(IntegerType).as("pos"),
        col("col").cast(DoubleType).as("elem"),
        col("meta.id").as("meta_id"),
        col("meta.dim").as("meta_dim"),
        col("props")("dim").as("p_dim"),
        col("props")("vid2").as("p_vid2"),
        col("dval").cast(DoubleType).as("dval"))
      .orderBy("vec_id", "pos")
  }

  val qIpcNestedSql: String = """
    SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
      CAST(unnest(embedding) AS DOUBLE) AS elem,
      vec_id AS meta_id, CAST(len(embedding) AS INT) AS meta_dim,
      CAST(len(embedding) AS BIGINT) AS p_dim,
      CAST(vec_id * 2 AS BIGINT) AS p_vid2,
      CAST(CAST(vec_id AS DECIMAL(12,2)) * CAST(1.25 AS DECIMAL(4,2)) AS DOUBLE) AS dval
    FROM embeddings WHERE vec_id < 48 ORDER BY vec_id, pos
  """.trim

  /** Dictionary-encoded IPC round-trip under an oracle: the two
    * low-cardinality orders string columns ship as int32 indices + a
    * per-file dictionary batch ([[writeIpcDict]]); [[readIpc]] decodes
    * transparently and the grouped aggregate must equal the parquet
    * original. IpcSpec additionally asserts the files really contain
    * dictionary batches and index-typed columns — that the encoding
    * happened, not just that the values survived. */
  def qIpcDict(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_dict"
    val src = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    // file count scales with the input (same lesson as
    // qIpcDictDelta's sweep: a dictionary writer parallelizes per
    // file, so a fixed repartition(4) serializes at x1000)
    val n = src.count()
    val parts = math.max(4L, math.min(64L, n / 20000L)).toInt
    writeIpcDict(src.repartition(parts, col("o_orderkey")),
      out, Seq("o_orderstatus", "o_orderpriority"))
    readIpc(s, out)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val qIpcDictSql: String = s"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS total_price,
      MAX(o_orderkey) AS max_key
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
  """.trim

  /** isDelta flag of each DictionaryBatch message in an Arrow FILE, in
    * stream order (walks the encapsulated messages between the magic
    * and the footer) — the structural evidence [[qIpcDictDelta]] and
    * the specs assert on. */
  private[graft] def dictBatchFlags(bytes: Array[Byte]): Seq[Boolean] = {
    var pos = 8 // "ARROW1\0\0"
    val out = Seq.newBuilder[Boolean]
    def intBE(p: Int) = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
      ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
    var done = false
    while (!done && pos + 8 <= bytes.length) {
      if (intBE(pos) != -1) done = true // footer region reached
      else {
        val metaLen = Integer.reverseBytes(intBE(pos + 4))
        if (metaLen == 0) done = true
        else {
          val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(
            java.nio.ByteBuffer.wrap(bytes, pos + 8, metaLen).slice())
          if (msg.headerType() ==
              org.apache.arrow.flatbuf.MessageHeader.DictionaryBatch)
            out += msg.header(new org.apache.arrow.flatbuf.DictionaryBatch())
              .asInstanceOf[org.apache.arrow.flatbuf.DictionaryBatch].isDelta
          pos += 8 + metaLen + msg.bodyLength().toInt
        }
      }
    }
    out.result()
  }

  /** Streaming-dictionary (isDelta) IPC round-trip under an oracle:
    * [[writeIpcDictDelta]] discovers the dictionary as it writes — no
    * driver distinct scan — and the files are sorted within partitions
    * by priority, so later priorities first appear in later batches
    * and the writer MUST emit `isDelta` extensions (proven by a
    * message walk before the read). [[readIpc]] appends the deltas and
    * the grouped aggregate must equal the parquet original. */
  def qIpcDictDelta(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_dict_delta"
    val src = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    // partition count and batch size SCALE with the input (a fixed
    // repartition(2) measured 13x per decade at x1000 — two 75M-row
    // single-threaded writer tasks): ~20k+ rows per file, capped at
    // 64 files; small batches only at tiny SFs where the delta
    // grammar needs them (rows-per-file stays well above batchRows at
    // every SF, so the priority-sorted order still forces a later
    // priority to arrive as an isDelta batch — the proof below)
    val n = src.count() // parquet metadata count — one cheap job
    val parts = math.max(2L, math.min(64L, n / 20000L)).toInt
    val bRows = if (n < 50000L) 512 else BatchRows
    writeIpcDictDelta(
      src.repartition(parts, col("o_orderkey"))
        .sortWithinPartitions("o_orderpriority", "o_orderkey"),
      out, Seq("o_orderstatus", "o_orderpriority"), batchRows = bRows)
    // structural proof: the first file really carries an initial
    // dictionary per column plus at least one isDelta extension
    val fs = new HPath(out).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val f = Option(fs.globStatus(new HPath(out, "*.arrow")))
      .getOrElse(Array()).map(_.getPath).minBy(_.getName)
    val in = fs.open(f)
    val bytes = try in.readAllBytes() finally in.close()
    val flags = dictBatchFlags(bytes)
    require(flags.count(_ == false) == 2 && flags.contains(true),
      s"expected initial dictionaries + isDelta extensions, got $flags")
    readIpc(s, out)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val qIpcDictDeltaSql: String = qIpcDictSql

  /** Dictionary-encoded directory read through the DSv2 COLUMNAR path
    * (r14: `ArrowColumnVector` has no dictionary accessor, so the
    * reader decodes each batch's index vectors through the
    * (delta-grown) dictionary into per-batch stand-in vectors): same
    * write as `ipc_dict`, read with `spark.read.format("graft-ipc")` —
    * the aggregate must still equal the parquet original. */
  def qIpcDictDsv2(s: SparkSession, dir: String): DataFrame = {
    val out = Egress.outRoot(dir) + "/orders_ipc_dict_dsv2"
    val src = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    val n = src.count()
    val parts = math.max(4L, math.min(64L, n / 20000L)).toInt
    writeIpcDict(src.repartition(parts, col("o_orderkey")),
      out, Seq("o_orderstatus", "o_orderpriority"))
    s.read.format("graft-ipc").load(out)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val qIpcDictDsv2Sql: String = qIpcDictSql
}
