package graft

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.IntVector
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Egress, Ipc}

/** Nested-type and dictionary-batch coverage for the IPC codec — the
  * deterministic complement to IpcPropertySpec's fuzz: a handcrafted
  * null matrix (null container / empty container / null element /
  * null field, at every level) through BOTH the imperative file codec
  * and the DSv2 connector, plus proof that [[Ipc.writeIpcDict]] really
  * emits DictionaryBatches (index-typed columns + dictionary vectors
  * in the file), not just value-equal plain files.
  */
class IpcSpec extends SparkSpec with RoundTripGen {

  protected val rnd = new scala.util.Random(20260814L)

  private val nestedSchema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("arr", ArrayType(FloatType, containsNull = true)),
    StructField("arr2", ArrayType(ArrayType(LongType, containsNull = true),
      containsNull = true)),
    StructField("st", StructType(Seq(
      StructField("a", LongType),
      StructField("b", StringType),
      StructField("c", ArrayType(IntegerType, containsNull = true))))),
    StructField("mp", MapType(StringType, LongType, valueContainsNull = true)),
    StructField("dec", DecimalType(14, 2))))

  // the full null matrix: null container, empty container, null
  // element, null struct field, null map value, null decimal
  private val nestedRows = Seq(
    Row(1L, Seq(1.5f, -0.25f), Seq(Seq(1L, 2L), Seq(3L)),
      Row(10L, "ten", Seq(1, 2, 3)), Map("a" -> 1L, "b" -> 2L),
      new java.math.BigDecimal("12.34")),
    Row(2L, null, null, null, null, null),
    Row(3L, Seq.empty[Float], Seq.empty[Seq[Long]],
      Row(null, null, null), Map.empty[String, Long],
      new java.math.BigDecimal("-0.01")),
    Row(4L, Seq(null, 2.5f, null), Seq(null, Seq(null, 9L)),
      Row(40L, "héllo 世界", null), Map("x" -> null, "y" -> 7L),
      new java.math.BigDecimal("99999999999.99")),
    Row(5L, Seq(Float.NaN, Float.PositiveInfinity), Seq(Seq()),
      Row(50L, "", Seq()), Map("" -> 0L),
      new java.math.BigDecimal("0.00")))

  private def assertNestedEqual(back: Array[Row]): Unit = {
    assert(back.length == nestedRows.length)
    for ((exp, got) <- nestedRows.zip(back); c <- 0 until nestedSchema.length)
      assert(sameValue(exp.get(c), got.get(c)),
        s"key ${exp.get(0)} col ${nestedSchema(c).name}: " +
          s"${exp.get(c)} -> ${got.get(c)}")
  }

  test("file codec round-trips nested types with a full null matrix") {
    val out = Egress.outRoot(sfDir) + "/ipc_nested_matrix"
    val df = spark.createDataFrame(nestedRows.asJava, nestedSchema)
      .repartition(2, col("key"))
    Ipc.writeIpc(df, out)
    val back = Ipc.readIpc(spark, out)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      nestedSchema.map(f => (f.name, f.dataType)))
    assertNestedEqual(back.orderBy("key").collect())
  }

  test("DSv2 connector round-trips nested types (columnar read path)") {
    val out = Egress.outRoot(sfDir) + "/ipc_nested_dsv2"
    spark.createDataFrame(nestedRows.asJava, nestedSchema)
      .repartition(2, col("key"))
      .write.format("graft-ipc").mode("overwrite").save(out)
    val back = spark.read.format("graft-ipc").load(out)
    assertNestedEqual(back.orderBy("key").collect())
    // column pruning still applies to a nested column
    val pruned = back.select("key", "arr").orderBy("key").collect()
    assert(sameValue(pruned(3).get(1), Seq(null, 2.5f, null)))
  }

  test("stream codec round-trips the nested null matrix") {
    val bytes = Ipc.writeIpcStream(nestedRows, nestedSchema)
    val (back, backSchema) = Ipc.readIpcStream(bytes)
    assert(backSchema.map(_.dataType) == nestedSchema.map(_.dataType))
    assertNestedEqual(back.toArray)
  }

  test("body-buffer compression: zstd/lz4 round-trip ACROSS writer/reader " +
      "implementations, files genuinely shrink, and an uncompressing " +
      "reader rejects them") {
    import org.apache.spark.sql.SaveMode
    val base = Egress.outRoot(sfDir) + "/ipc_comp_spec"
    // compressible payload: long runs of repeated text
    val df = spark.range(20000).select(col("id"),
      concat(lit("the quick brown fox jumps over the lazy dog "),
        (col("id") % 7).cast("string")).as("pad"))
      .repartition(2, col("id"))
    def dirBytes(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(p, "*.arrow"))
        .map(_.getLen).sum
    }
    Ipc.writeIpc(df, s"$base/plain")
    Ipc.writeIpc(df, s"$base/zstd", "zstd")                  // imperative writer
    df.write.format("graft-ipc").mode(SaveMode.Overwrite)
      .option("compression", "lz4").save(s"$base/lz4")       // DSv2 writer
    // genuinely compressed, not just accepted
    assert(dirBytes(s"$base/zstd") < dirBytes(s"$base/plain") / 2,
      s"zstd ${dirBytes(s"$base/zstd")} vs plain ${dirBytes(s"$base/plain")}")
    assert(dirBytes(s"$base/lz4") < dirBytes(s"$base/plain") / 2)
    val exp = df.orderBy("id").collect().toSeq
    // CROSS paths: imperative-written zstd through the DSv2 columnar
    // reader; DSv2-written lz4 through the imperative codec
    assert(spark.read.format("graft-ipc").load(s"$base/zstd")
      .orderBy("id").collect().toSeq == exp)
    assert(Ipc.readIpc(spark, s"$base/lz4")
      .orderBy("id").collect().toSeq == exp)
    // a reader whose factory CANNOT decompress must fail loudly on a
    // compressed batch (proves BodyCompression is really on the wire;
    // the no-arg reader can't serve here — Arrow 18 service-loads the
    // classpath's compression factory into its default)
    val fs = new org.apache.hadoop.fs.Path(s"$base/zstd")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$base/zstd/*.arrow")).head
    val alloc = new RootAllocator()
    val rd = new ArrowFileReader(new Ipc.HadoopSeekableChannel(
      fs.open(st.getPath), st.getLen), alloc,
      org.apache.arrow.vector.compression.NoCompressionCodec.Factory.INSTANCE)
    try intercept[Exception] { rd.loadNextBatch() }
    finally { rd.close(); alloc.close() }
  }

  test("compressed stream codec round-trips; unknown codec names are " +
      "rejected on both write surfaces") {
    val bos = new java.io.ByteArrayOutputStream()
    Ipc.writeIpcStreamTo(nestedRows.iterator, nestedSchema, bos, "zstd")
    val (back, backSchema) = Ipc.readIpcStream(bos.toByteArray)
    assert(backSchema.map(_.dataType) == nestedSchema.map(_.dataType))
    assertNestedEqual(back.toArray)
    val df = spark.range(10).toDF("id")
    intercept[IllegalArgumentException] {
      Ipc.writeIpc(df, Egress.outRoot(sfDir) + "/ipc_comp_bad", "snappy")
    }
    val err = intercept[Throwable] {
      df.write.format("graft-ipc")
        .option("compression", "snappy")
        .mode("overwrite").save(Egress.outRoot(sfDir) + "/ipc_comp_bad2")
    }
    assert(err.getMessage != null &&
      (err.getMessage.contains("unknown IPC compression") ||
        err.getCause != null &&
          err.getCause.getMessage.contains("unknown IPC compression")))
  }

  test("foreign temporal widths widen on read: TIME32[s/ms]/TIME64[µs], " +
      "Duration[s/ms/ns], and Arrow DAY_TIME interval pairs") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.{IntervalUnit, TimeUnit => ATU}
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._
    // a file OUR writer never produces: every non-default temporal
    // width the spec allows — built directly with Arrow Java, the way
    // a foreign producer (C++, pyarrow) would
    def f(n: String, t: ArrowType) =
      new Field(n, FieldType.nullable(t), java.util.Collections.emptyList())
    val schema = new ASchema(Seq(
      f("t_s", new ArrowType.Time(ATU.SECOND, 32)),
      f("t_ms", new ArrowType.Time(ATU.MILLISECOND, 32)),
      f("t_us", new ArrowType.Time(ATU.MICROSECOND, 64)),
      f("d_s", new ArrowType.Duration(ATU.SECOND)),
      f("d_ms", new ArrowType.Duration(ATU.MILLISECOND)),
      f("d_ns", new ArrowType.Duration(ATU.NANOSECOND)),
      f("iv_dt", new ArrowType.Interval(IntervalUnit.DAY_TIME))).asJava)
    val allocator = new org.apache.arrow.memory.RootAllocator()
    val root = VectorSchemaRoot.create(schema, allocator)
    val sink = new java.io.ByteArrayOutputStream()
    val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
      root, null, java.nio.channels.Channels.newChannel(sink))
    try {
      w.start()
      root.getVector("t_s").asInstanceOf[TimeSecVector].setSafe(0, 3661) // 01:01:01
      root.getVector("t_ms").asInstanceOf[TimeMilliVector].setSafe(0, 3661500)
      root.getVector("t_us").asInstanceOf[TimeMicroVector].setSafe(0, 3661000250L)
      root.getVector("d_s").asInstanceOf[DurationVector].setSafe(0, 90L)
      root.getVector("d_ms").asInstanceOf[DurationVector].setSafe(0, 90250L)
      // ns floor-divides to µs (1999 ns -> 1 µs)
      root.getVector("d_ns").asInstanceOf[DurationVector].setSafe(0, 1999L)
      root.getVector("iv_dt").asInstanceOf[IntervalDayVector]
        .setSafe(0, 2, 500) // 2 days + 500 ms
      // negative pair on row 1: the allocation-free raw-buffer read
      // must keep the sign of both packed ints (other columns null)
      root.getVector("iv_dt").asInstanceOf[IntervalDayVector]
        .setSafe(1, -3, -250)
      root.setRowCount(2)
      w.writeBatch(); w.end()
    } finally { w.close(); root.close(); allocator.close() }
    val (rows, st) = Ipc.readIpcStream(sink.toByteArray)
    import org.apache.spark.sql.types.{TimeType, DayTimeIntervalType}
    assert(st.fields.take(3).forall(_.dataType.isInstanceOf[TimeType]),
      s"TIME widths must widen to TIME: $st")
    assert(st.fields.drop(3).forall(_.dataType.isInstanceOf[DayTimeIntervalType]),
      s"durations/DAY_TIME must read as day-time interval: $st")
    val r = rows.head
    assert(r.get(0) == java.time.LocalTime.of(1, 1, 1))
    assert(r.get(1) == java.time.LocalTime.of(1, 1, 1, 500000000))
    assert(r.get(2) == java.time.LocalTime.ofNanoOfDay(3661000250L * 1000L))
    assert(r.get(3) == java.time.Duration.ofSeconds(90))
    assert(r.get(4) == java.time.Duration.ofMillis(90250))
    assert(r.get(5) == java.time.Duration.ofNanos(1000),
      s"ns must floor to µs, got ${r.get(5)}")
    assert(r.get(6) == java.time.Duration.ofSeconds(2 * 86400, 500000000L))
    val r1 = rows(1)
    assert((0 to 5).forall(r1.isNullAt), s"row 1 non-interval cols null: $r1")
    assert(r1.get(6) == java.time.Duration.ofMillis(-3L * 86400000L - 250L),
      s"negative DAY_TIME pair must keep both signs, got ${r1.get(6)}")
  }

  test("a failing row iterator mid-stream leaves a TRUNCATED stream — " +
      "no clean end-of-stream marker a client could mistake for success") {
    val schema = StructType(Seq(StructField("n", LongType)))
    val sink = new java.io.ByteArrayOutputStream()
    // one full batch flushes, then the source fails (a query error
    // feeding a Flight DoGet)
    val boom = new RuntimeException("source died mid-stream")
    val rows = new Iterator[Row] {
      private var i = 0
      def hasNext = true
      def next(): Row = {
        if (i > Ipc.BatchRows) throw boom
        i += 1; Row(i.toLong)
      }
    }
    val got = intercept[RuntimeException] {
      Ipc.writeIpcStreamTo(rows, schema, sink)
    }
    assert(got eq boom)
    // the error-path bytes must NOT end with the Arrow end-of-stream
    // marker (FFFFFFFF 00000000): writer.close() on the exception path
    // would emit one and bless partial rows as a complete stream
    def eosTerminated(bytes: Array[Byte]): Boolean =
      bytes.length >= 8 &&
        bytes.takeRight(8).map(_ & 0xff).toSeq ==
          Seq(0xff, 0xff, 0xff, 0xff, 0, 0, 0, 0)
    assert(!eosTerminated(sink.toByteArray),
      "failed stream carries a clean EOS marker — partial rows would " +
        "read as success")
    // control: a successful write of the same shape IS EOS-terminated
    val okBytes = Ipc.writeIpcStream(
      (1 to 3).map(i => Row(i.toLong)), schema)
    assert(eosTerminated(okBytes), "happy path lost its EOS marker")
  }

  test("writeIpcDict emits real DictionaryBatches and readIpc decodes them") {
    val out = Egress.outRoot(sfDir) + "/ipc_dict_check"
    val src = graft.sources.Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(2, col("o_orderkey"))
    Ipc.writeIpcDict(src, out, Seq("o_orderpriority"))
    // the files really carry dictionary batches + index-typed columns
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".arrow")).minBy(_.getName)
    val allocator = new RootAllocator()
    val rd = new ArrowFileReader(
      new java.io.FileInputStream(f).getChannel, allocator)
    try {
      val dicts = rd.getDictionaryVectors
      assert(dicts.size() == 1, s"expected 1 dictionary, got ${dicts.size()}")
      val root = rd.getVectorSchemaRoot
      val prioVec = root.getVector("o_orderpriority")
      assert(prioVec.isInstanceOf[IntVector],
        s"encoded column should be index-typed, got ${prioVec.getClass}")
      assert(prioVec.getField.getDictionary != null)
      val dictVals = dicts.values().asScala.head.getVector
      assert(dictVals.getValueCount == 5, // TPC-H priorities 1-URGENT..5-LOW
        s"dictionary has ${dictVals.getValueCount} entries")
    } finally { rd.close(); allocator.close() }
    // transparent decode: read-back equals source, value for value
    val back = Ipc.readIpc(spark, out)
    assert(back.schema("o_orderpriority").dataType == StringType)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).count() == 0)
  }

  // ---- Tensor IPC messages (reference Message.fbs:92) ----------------------

  test("Tensor IPC message round-trips: scalar, vector, matrix, 3-d, " +
      "empty; refusals are loud and named") {
    import graft.ops.TensorIpc
    import graft.ops.TensorIpc.DenseTensor
    val cases = Seq(
      DenseTensor(Nil, Array(42.5)),                       // scalar
      DenseTensor(Seq(8L), (0 until 8).map(_ * 1.5 - 2).toArray),
      DenseTensor(Seq(2L, 4L), (0 until 8).map(_.toDouble).toArray),
      DenseTensor(Seq(3L, 2L, 2L), (0 until 12).map(i => math.sin(i)).toArray),
      DenseTensor(Seq(0L), Array.emptyDoubleArray))        // empty axis
    cases.foreach { t =>
      val back = TensorIpc.read(TensorIpc.writeBytes(t))
      assert(back.shape == t.shape, s"shape for $t")
      assert(back.data.toSeq == t.data.toSeq, s"data for $t")
    }
    // a record-batch message is refused by header type, not misread
    val ipcStream = Ipc.writeIpcStream(
      Seq(Row(1L)), StructType(Seq(StructField("v", LongType))))
    val e = intercept[IllegalArgumentException](TensorIpc.read(ipcStream))
    assert(e.getMessage.contains("not a Tensor message"))
    // shape/data mismatch refused at construction
    val e2 = intercept[IllegalArgumentException](
      DenseTensor(Seq(3L), Array(1.0, 2.0)))
    assert(e2.getMessage.contains("does not address"))
  }

  test("SparseTensor IPC message (COO) round-trips; canonicality is " +
      "computed; dense/sparse header crosses and CSR forms refuse by name") {
    import graft.ops.TensorIpc
    import graft.ops.TensorIpc.{CooTensor, DenseTensor}
    // canonical 2-d: sorted index rows, no dupes
    val t1 = CooTensor(Seq(3L, 4L),
      Array(0L, 1L, 1L, 0L, 1L, 3L, 2L, 2L), Array(1.5, -2.0, 0.25, 9.0))
    assert(t1.isCanonical)
    val b1 = TensorIpc.readSparse(TensorIpc.writeSparseBytes(t1))
    assert(b1.shape == t1.shape && b1.nnz == 4 &&
      b1.indices.toSeq == t1.indices.toSeq &&
      b1.values.toSeq == t1.values.toSeq && b1.isCanonical)
    // non-canonical order travels VERBATIM, flag false (the codec
    // must not sort behind the producer's back)
    val t2 = CooTensor(Seq(2L, 2L), Array(1L, 1L, 0L, 0L), Array(4.0, 5.0))
    val b2 = TensorIpc.readSparse(TensorIpc.writeSparseBytes(t2))
    assert(!b2.isCanonical && b2.indices.toSeq == Seq(1L, 1L, 0L, 0L) &&
      b2.values.toSeq == Seq(4.0, 5.0))
    // rank-1 and all-zero (nnz = 0)
    val b3 = TensorIpc.readSparse(TensorIpc.writeSparseBytes(
      CooTensor(Seq(5L), Array.emptyLongArray, Array.emptyDoubleArray)))
    assert(b3.shape == Seq(5L) && b3.nnz == 0 && b3.isCanonical)
    // 3-d
    val t4 = CooTensor(Seq(2L, 3L, 2L), Array(0L, 2L, 1L, 1L, 0L, 0L),
      Array(7.5, -0.5))
    val b4 = TensorIpc.readSparse(TensorIpc.writeSparseBytes(t4))
    assert(b4.indices.toSeq == t4.indices.toSeq &&
      b4.values.toSeq == t4.values.toSeq)
    // header crosses: each codec names the other
    val eD = intercept[IllegalArgumentException](
      TensorIpc.readSparse(TensorIpc.writeBytes(
        DenseTensor(Seq(2L), Array(1.0, 2.0)))))
    assert(eD.getMessage.contains("use TensorIpc.read"), eD.getMessage)
    val eS = intercept[IllegalArgumentException](
      TensorIpc.read(TensorIpc.writeSparseBytes(t1)))
    assert(eS.getMessage.contains("readSparse"), eS.getMessage)
    // construction guards: out-of-range index, arity mismatch, rank 0
    val eC = intercept[IllegalArgumentException](
      CooTensor(Seq(2L, 2L), Array(0L, 2L), Array(1.0)))
    assert(eC.getMessage.contains("out of range"))
    val eA = intercept[IllegalArgumentException](
      CooTensor(Seq(2L, 2L), Array(0L), Array(1.0)))
    assert(eA.getMessage.contains("do not address"))
    val eR = intercept[IllegalArgumentException](
      CooTensor(Nil, Array.emptyLongArray, Array(1.0)))
    assert(eR.getMessage.contains("at least one axis"))
    // a CSR/CSC-indexed SparseTensor message refuses by NAME: build
    // one with the Arrow Java flatbuffer builders (the reference's
    // SparseMatrixIndexCSX form, SparseTensor.fbs)
    import com.google.flatbuffers.FlatBufferBuilder
    import org.apache.arrow.flatbuf.{Buffer => FbBuffer, FloatingPoint, Int => FbInt, Message, MessageHeader, MetadataVersion, Precision, SparseMatrixIndexCSX, SparseTensor => FbSparseTensor, SparseTensorIndex, TensorDim, Type => FbType}
    val fb = new FlatBufferBuilder(256)
    val tyOff = FloatingPoint.createFloatingPoint(fb, Precision.DOUBLE)
    val dims = Array(TensorDim.createTensorDim(fb, 2L, 0),
      TensorDim.createTensorDim(fb, 2L, 0))
    val shapeOff = FbSparseTensor.createShapeVector(fb, dims)
    val iTy = FbInt.createInt(fb, 64, true)
    val ipTy = FbInt.createInt(fb, 64, true)
    SparseMatrixIndexCSX.startSparseMatrixIndexCSX(fb)
    SparseMatrixIndexCSX.addIndptrType(fb, ipTy)
    SparseMatrixIndexCSX.addIndptrBuffer(fb, FbBuffer.createBuffer(fb, 0L, 24L))
    SparseMatrixIndexCSX.addIndicesType(fb, iTy)
    SparseMatrixIndexCSX.addIndicesBuffer(fb, FbBuffer.createBuffer(fb, 24L, 8L))
    val csxOff = SparseMatrixIndexCSX.endSparseMatrixIndexCSX(fb)
    FbSparseTensor.startSparseTensor(fb)
    FbSparseTensor.addTypeType(fb, FbType.FloatingPoint)
    FbSparseTensor.addType(fb, tyOff)
    FbSparseTensor.addShape(fb, shapeOff)
    FbSparseTensor.addNonZeroLength(fb, 1L)
    FbSparseTensor.addSparseIndexType(fb, SparseTensorIndex.SparseMatrixIndexCSX)
    FbSparseTensor.addSparseIndex(fb, csxOff)
    FbSparseTensor.addData(fb, FbBuffer.createBuffer(fb, 32L, 8L))
    val stOff = FbSparseTensor.endSparseTensor(fb)
    fb.finish(Message.createMessage(
      fb, MetadataVersion.V5, MessageHeader.SparseTensor, stOff, 40L, 0))
    val meta = fb.sizedByteArray()
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    val padded = ((meta.length + 7) / 8) * 8
    dos.writeInt(-1); dos.writeInt(Integer.reverseBytes(padded))
    dos.write(meta); (meta.length until padded).foreach(_ => dos.writeByte(0))
    dos.write(new Array[Byte](40))
    val eX = intercept[IllegalArgumentException](
      TensorIpc.readSparse(bos.toByteArray))
    assert(eX.getMessage.contains("CSR/CSC"), eX.getMessage)
  }

  test("Tensor IPC interop with STOCK pyarrow, both directions " +
      "(skips when python3/pyarrow is absent)") {
    import graft.ops.TensorIpc
    import graft.ops.TensorIpc.DenseTensor
    val py = Seq("python3", "python").find { p =>
      try new ProcessBuilder(p, "-c", "import pyarrow, numpy")
        .start().waitFor() == 0
      catch { case _: Throwable => false }
    }.getOrElse(cancel("no python3 with pyarrow/numpy on this machine"))
    def run(args: String*): String = {
      val pr = new ProcessBuilder((py +: "tools/tensor_ipc_check.py" +: args): _*)
        .directory(new java.io.File(sys.props("user.dir")))
        .redirectErrorStream(true).start()
      val out = new String(pr.getInputStream.readAllBytes())
      assert(pr.waitFor() == 0, s"pyarrow helper failed:\n$out")
      out
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_tensor_ipc")
    // engine write -> pyarrow read: shape, strides and an
    // order-sensitive checksum must all agree
    val t = DenseTensor(Seq(3L, 4L), (0 until 12).map(_ * 0.25 - 1).toArray)
    java.nio.file.Files.write(dir.resolve("t1.arrowt"),
      TensorIpc.writeBytes(t))
    val out1 = run("read", dir.resolve("t1.arrowt").toString)
    assert(out1.contains("SHAPE=3,4"), out1)
    val wantChk = t.data.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum
    val gotChk = "SUMIDX=([-0-9.]+)".r.findFirstMatchIn(out1).get.group(1).toDouble
    assert(math.abs(gotChk - wantChk) < 1e-9, s"checksum: $out1 vs $wantChk")
    assert(out1.contains("STRIDES=32,8"), out1) // row-major bytes
    // pyarrow write -> engine read: element i = i*0.5 - 3, row-major
    run("write", dir.resolve("t2.arrowt").toString, "2,3,2")
    val back = TensorIpc.read(
      java.nio.file.Files.readAllBytes(dir.resolve("t2.arrowt")))
    assert(back.shape == Seq(2L, 3L, 2L))
    assert(back.data.toSeq == (0 until 12).map(_ * 0.5 - 3.0))
    // SparseTensor: stock pyarrow (<=16) binds no sparse-tensor IPC
    // reader/writer, so the python half is the C++ ENVELOPE parser —
    // read_message must identify the header union member by name and
    // size the body exactly (indices + values buffers)
    val st = graft.ops.TensorIpc.CooTensor(Seq(3L, 4L),
      Array(0L, 1L, 2L, 0L), Array(6.5, -1.25))
    java.nio.file.Files.write(dir.resolve("t3.arrows"),
      graft.ops.TensorIpc.writeSparseBytes(st))
    val out3 = run("readmsg", dir.resolve("t3.arrows").toString)
    assert(out3.contains("MSGTYPE=sparse tensor"), out3)
    assert(out3.contains("BODYLEN=" +
      (st.indices.length * 8 + st.values.length * 8)), out3)
    // …and the dense file written above parses as `tensor` through
    // the same envelope path (guards the mode itself)
    val outD = run("readmsg", dir.resolve("t1.arrowt").toString)
    assert(outD.contains("MSGTYPE=tensor"), outD)
  }

  test("DSv2 decodes dictionary-encoded directories on both read " +
      "paths, delta batches included") {
    // self-contained fixture: do NOT lean on the writeIpcDict test's
    // output dir — this test must hold under -z isolation too
    val src = graft.sources.Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val out = Egress.outRoot(sfDir) + "/ipc_dict_dsv2_read"
    Ipc.writeIpcDict(src, out, Seq("o_orderpriority"))
    val df = spark.read.format("graft-ipc").load(out)
    // schema resolves to the dictionary's VALUE type, not the indices
    assert(df.schema("o_orderpriority").dataType == StringType)
    assert(df.count() == src.count())
    assert(df.exceptAll(src).count() == 0 && src.exceptAll(df).count() == 0)
    // the columnar path carries the scan (decoded stand-in vectors)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // a STREAMING delta-dictionary directory decodes through the same
    // DSv2 surface (initial batch + isDelta extensions)
    val out2 = Egress.outRoot(sfDir) + "/ipc_dict_delta_dsv2_read"
    Ipc.writeIpcDictDelta(
      src.repartition(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderpriority", "o_orderkey"),
      out2, Seq("o_orderpriority"), batchRows = 256)
    val df2 = spark.read.format("graft-ipc").load(out2)
    assert(df2.exceptAll(src).count() == 0 && src.exceptAll(df2).count() == 0)
    // dictionary + BODY-BUFFER compression compose (the reference's
    // IpcWriteOptions carries both): files shrink AND decode through
    // both the row-based codec and the connector
    val out3 = Egress.outRoot(sfDir) + "/ipc_dict_zstd_read"
    Ipc.writeIpcDict(src, out3, Seq("o_orderpriority"), compression = "zstd")
    def dirBytes(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(p, "*.arrow"))
        .map(_.getLen).sum
    }
    assert(dirBytes(out3) < dirBytes(out),
      s"zstd dict dir ${dirBytes(out3)} vs plain dict dir ${dirBytes(out)}")
    val df3 = spark.read.format("graft-ipc").load(out3)
    assert(df3.exceptAll(src).count() == 0 && src.exceptAll(df3).count() == 0)
    val back3 = Ipc.readIpc(spark, out3)
    assert(back3.exceptAll(src).count() == 0 &&
      src.exceptAll(back3).count() == 0)
  }

  // ---- one reader: by-name binding, foreign widths, one-pass dictionaries --

  test("the reader binds columns by name: a caller-supplied schema in " +
      "another order reads each value under its own name") {
    val sp = spark; import sp.implicits._
    val out = Egress.outRoot(sfDir) + "/ipc_bind_schema"
    Seq((1, 100)).toDF("a", "b").coalesce(1)
      .write.format("graft-ipc").mode("overwrite").save(out)
    val got = spark.read.schema("b INT, a INT").format("graft-ipc")
      .load(out).collect().toSeq
    assert(got == Seq(Row(100, 1)), got)
  }

  test("the reader binds columns by name: a directory appended to in " +
      "another column order reads right through both entry points") {
    val sp = spark; import sp.implicits._
    val out = Egress.outRoot(sfDir) + "/ipc_bind_append"
    Seq((1, 100)).toDF("a", "b").coalesce(1)
      .write.format("graft-ipc").mode("overwrite").save(out)
    Seq((200, 2)).toDF("b", "a").coalesce(1)
      .write.format("graft-ipc").mode("append").save(out)
    val want = Set(Row(1, 100), Row(2, 200))
    assert(spark.read.format("graft-ipc").load(out).select("a", "b")
      .collect().toSet == want)
    assert(Ipc.readIpc(spark, out).select("a", "b").collect().toSet == want)
  }

  test("the reader refuses a planned column a file lacks, or one of " +
      "another type, naming the file and the column") {
    val sp = spark; import sp.implicits._
    val out = Egress.outRoot(sfDir) + "/ipc_bind_refuse"
    Seq((1, 100)).toDF("a", "b").coalesce(1)
      .write.format("graft-ipc").mode("overwrite").save(out)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    def refusal(schema: String): String = messages(intercept[Exception] {
      spark.read.schema(schema).format("graft-ipc").load(out).collect()
    }).find(_.contains("graft-ipc file ")).getOrElse("no refusal message")
    val missing = refusal("a INT, c INT")
    assert(missing.contains(".arrow") && missing.contains("no column 'c'"),
      missing)
    val retyped = refusal("a STRING")
    assert(retyped.contains(".arrow") && retyped.contains("column 'a' is INT") &&
      retyped.contains("planned as STRING"), retyped)
  }

  test("foreign temporal widths read through the connector: TIME32[s/ms], " +
      "TIME64[µs], Duration[s] and DAY_TIME, top-level and nested, take " +
      "the row reader; the engine's own files stay columnar") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.{ListVector, StructVector}
    import org.apache.arrow.vector.types.{IntervalUnit, TimeUnit => ATU}
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    // a file the engine's writer never produces, built with Arrow Java
    // the way a foreign producer (C++, pyarrow) would
    def f(n: String, t: ArrowType, kids: Field*) =
      new Field(n, FieldType.nullable(t), kids.asJava)
    val schema = new ASchema(Seq(
      f("t_s", new ArrowType.Time(ATU.SECOND, 32)),
      f("t_ms", new ArrowType.Time(ATU.MILLISECOND, 32)),
      f("t_us", new ArrowType.Time(ATU.MICROSECOND, 64)),
      f("d_s", new ArrowType.Duration(ATU.SECOND)),
      f("iv_dt", new ArrowType.Interval(IntervalUnit.DAY_TIME)),
      f("l_ms", ArrowType.List.INSTANCE,
        f("element", new ArrowType.Time(ATU.MILLISECOND, 32))),
      f("st", ArrowType.Struct.INSTANCE,
        f("t_s", new ArrowType.Time(ATU.SECOND, 32)),
        f("iv", new ArrowType.Interval(IntervalUnit.DAY_TIME)))).asJava)
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_foreign_time")
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, allocator)
    val fos = new java.io.FileOutputStream(dir.resolve("part-0.arrow").toFile)
    val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, fos.getChannel)
    try {
      w.start()
      root.getVector("t_s").asInstanceOf[TimeSecVector].setSafe(0, 3661) // 01:01:01
      root.getVector("t_ms").asInstanceOf[TimeMilliVector].setSafe(0, 3661500)
      root.getVector("t_us").asInstanceOf[TimeMicroVector].setSafe(0, 3661000250L)
      root.getVector("d_s").asInstanceOf[DurationVector].setSafe(0, 90L)
      val iv = root.getVector("iv_dt").asInstanceOf[IntervalDayVector]
      iv.setSafe(0, 2, 500) // 2 days + 500 ms
      iv.setSafe(1, -3, -250) // both packed ints keep their sign
      val l = root.getVector("l_ms").asInstanceOf[ListVector]
      val start = l.startNewValue(0)
      l.getDataVector.asInstanceOf[TimeMilliVector].setSafe(start, 3661500)
      l.getDataVector.asInstanceOf[TimeMilliVector].setNull(start + 1)
      l.endValue(0, 2)
      l.setNull(1)
      val st = root.getVector("st").asInstanceOf[StructVector]
      st.setIndexDefined(0)
      st.getChild("t_s").asInstanceOf[TimeSecVector].setSafe(0, 7200)
      st.getChild("iv").asInstanceOf[IntervalDayVector].setSafe(0, 1, 1)
      st.setNull(1)
      root.setRowCount(2)
      w.writeBatch(); w.end()
    } finally { w.close(); fos.close(); root.close(); allocator.close() }
    val df = spark.read.format("graft-ipc").load(dir.toString)
    val rows = df.collect()
    val r = rows(0)
    assert(r.get(0) == java.time.LocalTime.of(1, 1, 1))
    assert(r.get(1) == java.time.LocalTime.of(1, 1, 1, 500000000))
    assert(r.get(2) == java.time.LocalTime.ofNanoOfDay(3661000250L * 1000L))
    assert(r.get(3) == java.time.Duration.ofSeconds(90))
    assert(r.get(4) == java.time.Duration.ofSeconds(2 * 86400, 500000000L))
    assert(sameValue(r.get(5), Seq(java.time.LocalTime.of(1, 1, 1, 500000000), null)),
      s"nested list: ${r.get(5)}")
    assert(r.getStruct(6) ==
      Row(java.time.LocalTime.of(2, 0), java.time.Duration.ofMillis(86400001L)))
    val r1 = rows(1)
    assert(r1.get(4) == java.time.Duration.ofMillis(-3L * 86400000L - 250L),
      s"negative DAY_TIME pair must keep both signs, got ${r1.get(4)}")
    assert(Seq(0, 1, 2, 3, 5, 6).forall(r1.isNullAt), s"row 1: $r1")
    // the file decides the reader: this one takes the row reader …
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString)
    // … while a file of the engine's own writer keeps the columnar one
    val own = Egress.outRoot(sfDir) + "/ipc_own_temporal"
    spark.range(3).selectExpr("id", "CAST('01:02:03' AS TIME) AS t",
        "make_dt_interval(0, 0, 0, CAST(id AS INT)) AS d")
      .write.format("graft-ipc").mode("overwrite").save(own)
    val ownDf = spark.read.format("graft-ipc").load(own)
    assert(ownDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(ownDf.orderBy("id").collect().last.get(2) == java.time.Duration.ofSeconds(2))
  }

  test("foreign temporal widths from STOCK pyarrow read through the " +
      "connector (skips when python3/pyarrow is absent)") {
    val py = Seq("python3", "python").find { p =>
      try new ProcessBuilder(p, "-c", "import pyarrow").start().waitFor() == 0
      catch { case _: Throwable => false }
    }.getOrElse(cancel("no python3 with pyarrow on this machine"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ipc_pyarrow_time")
    val script = """
      |import sys, pyarrow as pa, pyarrow.ipc as ipc
      |t = pa.table({
      |  "t_s": pa.array([3661, None], pa.time32("s")),
      |  "t_ms": pa.array([3661500, None], pa.time32("ms")),
      |  "t_us": pa.array([3661000250, None], pa.time64("us")),
      |  "d_s": pa.array([90, None], pa.duration("s")),
      |  "l_ms": pa.array([[3661500, None], None], pa.list_(pa.time32("ms"))),
      |  "st": pa.array([{"t_s": 7200, "d_ns": 1999}, None],
      |                 pa.struct([("t_s", pa.time32("s")), ("d_ns", pa.duration("ns"))])),
      |})
      |with ipc.new_file(sys.argv[1], t.schema) as w:
      |    w.write_table(t)
      |""".stripMargin
    val pr = new ProcessBuilder(py, "-c", script,
      dir.resolve("part-0.arrow").toString).redirectErrorStream(true).start()
    val log = new String(pr.getInputStream.readAllBytes())
    assert(pr.waitFor() == 0, s"pyarrow writer failed:\n$log")
    val df = spark.read.format("graft-ipc").load(dir.toString)
    val Array(r, r1) = df.collect()
    assert(r.get(0) == java.time.LocalTime.of(1, 1, 1))
    assert(r.get(1) == java.time.LocalTime.of(1, 1, 1, 500000000))
    assert(r.get(2) == java.time.LocalTime.ofNanoOfDay(3661000250L * 1000L))
    assert(r.get(3) == java.time.Duration.ofSeconds(90))
    assert(sameValue(r.get(4), Seq(java.time.LocalTime.of(1, 1, 1, 500000000), null)))
    // ns floor-divides to µs (1999 ns -> 1 µs)
    assert(r.getStruct(5) ==
      Row(java.time.LocalTime.of(2, 0), java.time.Duration.ofNanos(1000)))
    assert((0 until 6).forall(r1.isNullAt), s"row 1: $r1")
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("writeIpcDict builds every dictionary in one aggregation: sorted " +
      "ids, NULLs left out, and the 65536 cap refused") {
    val sp = spark; import sp.implicits._
    val out = Egress.outRoot(sfDir) + "/ipc_dict_one_pass"
    val df = (0 until 3000).map(i => (i.toLong,
        if (i % 11 == 0) null else s"s${(i * 5) % 7}", s"p${i % 5}"))
      .toDF("id", "s", "p").coalesce(2)
    // one dictionary job per shuffle stage of the aggregation (distinct,
    // then numbering per column) plus its result, then the write
    assert(jobsDuring(Ipc.writeIpcDict(df, out, Seq("s", "p"))) == 4)
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".arrow")).minBy(_.getName)
    val allocator = new RootAllocator()
    val rd = new ArrowFileReader(
      new java.io.FileInputStream(f).getChannel, allocator)
    try {
      val root = rd.getVectorSchemaRoot
      def dictOf(c: String): Seq[String] = {
        val dv = rd.getDictionaryVectors
          .get(root.getVector(c).getField.getDictionary.getId).getVector
          .asInstanceOf[org.apache.arrow.vector.VarCharVector]
        (0 until dv.getValueCount).map(i => new String(dv.get(i), "UTF-8"))
      }
      assert(dictOf("s") == (0 until 7).map(i => s"s$i"))
      assert(dictOf("p") == (0 until 5).map(i => s"p$i"))
    } finally { rd.close(); allocator.close() }
    val back = Ipc.readIpc(spark, out)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    val wide = (0 to 65536).map(i => s"v$i").toDF("v")
    val e = intercept[IllegalArgumentException] {
      Ipc.writeIpcDict(wide, out + "_wide", Seq("v"))
    }
    assert(e.getMessage.contains("more than 65536"), e.getMessage)
  }
}
