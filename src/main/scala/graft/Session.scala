package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's user-facing session, mirroring the reference's
  * `ExecutionContext` surface (`rust/datafusion/src/execution/
  * context.rs:57-217`: register_csv / register_parquet /
  * register_table / sql / table) on top of a SparkSession built with
  * [[Engine.buildConfs]].
  *
  * Like the reference, SQL and the DataFrame/Table API lower to the
  * same logical plan (proven in SessionSpec, the analogue of
  * `execution/table_impl.rs:196` assert_same_plan).
  */
class Session(val spark: SparkSession) {
  // a session built without the engine's confs would run with ANSI
  // casts and without the native functions, silently
  require(spark.conf.getOption("spark.sql.extensions").exists(
      _.split(',').map(_.trim).contains(classOf[GraftExtensions].getName)),
    "graft.Session needs a session whose spark.sql.extensions names " +
      "graft.GraftExtensions: build it with Engine.session, or put " +
      "Engine.buildConfs on its builder")

  /** register_parquet (context.rs:188): name a parquet path as a table. */
  def registerParquet(name: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)

  /** register_csv (context.rs:177): schema-declared or inferred CSV.
    * `schema=None` → inference, the CSV reader's inference chain
    * (cpp/src/arrow/csv/column_builder.cc:265-305) mapped to Spark's. */
  def registerCsv(name: String, path: String, schema: Option[StructType] = None,
      header: Boolean = true): Unit = {
    val r = spark.read.option("header", header.toString)
    val df = schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", "true").csv(path)
    }
    df.createOrReplaceTempView(name)
  }

  /** register_table (context.rs:195): any DataFrame as a named table. */
  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** JSON reader registration (cpp/src/arrow/json/reader.h:45):
    * newline-delimited JSON, declared schema or inference. */
  def registerJson(name: String, path: String,
      schema: Option[StructType] = None): Unit = {
    val df = schema match {
      case Some(sc) => spark.read.schema(sc).json(path)
      case None     => spark.read.json(path)
    }
    df.createOrReplaceTempView(name)
  }

  /** write_csv (context.rs:451-496): result → directory of CSV part
    * files, one per partition — the distributed sink shape. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Parquet sink (cpp/src/parquet writer analogue). `partitionBy`
    * columns produce a Hive-partitioned directory layout
    * (cpp/src/arrow/dataset/partition.h:190 HivePartitioning);
    * `compression` selects the page codec (snappy/zstd/gzip/lz4/none —
    * the parquet::Compression surface). */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      compression: String = "snappy"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** ORC sink/source pair (cpp/src/arrow/adapters/orc/adapter.h). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Arrow IPC registration/sink through the graft-ipc DataSource V2
    * connector (ipc/reader.h:58 / writer.h:54 analogue): columnar
    * pruned scans in, job-commit atomic writes out. */
  def registerIpc(name: String, path: String): Unit =
    spark.read.format("graft-ipc").load(path).createOrReplaceTempView(name)

  def writeIpc(df: DataFrame, path: String): Unit =
    df.write.format("graft-ipc").mode("overwrite").save(path)

  /** Avro container registration/sink (`graft.ops.Avro`): distributed
    * one-file-per-partition write, one-partition-per-file read. */
  def registerAvro(name: String, path: String): Unit =
    graft.ops.Avro.readAvro(spark, path).createOrReplaceTempView(name)

  def writeAvro(df: DataFrame, path: String): Unit =
    graft.ops.Avro.writeAvro(df, path)

  /** sql (context.rs:71): SQL text → lazy DataFrame (the reference
    * collects eagerly; we keep Spark laziness — .collect() matches).
    * Lakehouse statements (CREATE TABLE graft_log / MERGE INTO
    * graft_log / SELECT over graft_log refs) dispatch to
    * [[graft.ops.LogSql]]; QUALIFY / DISTINCT ON clauses rewrite
    * through [[graft.ops.SqlSyntax]]; everything else is native
    * Spark SQL. */
  def sql(query: String): DataFrame = {
    // boundary comments carry no semantics, but the lakehouse
    // statement heads and the clause-extension anchors are matched by
    // anchored regexes — a `-- provenance` header or a trailing
    // comment must not stop a MERGE/EXCLUDE/… from being recognized
    val q = graft.ops.LogSql.stripBoundaryComments(query)
    graft.ops.LogSql.dispatch(spark, q)
      .getOrElse(graft.ops.SqlSyntax.run(spark, q))
  }

  /** table (context.rs:201): named table → DataFrame for the Table API. */
  def table(name: String): DataFrame = spark.table(name)

  /** Register every driver fixture table from a scale-factor dir. */
  def registerFixtures(dir: String): Unit =
    graft.sources.Tables.names.foreach { n =>
      registerTable(n, graft.sources.Tables(spark, dir, n))
    }
}

object Session {
  def apply(spark: SparkSession): Session = new Session(spark)
}
