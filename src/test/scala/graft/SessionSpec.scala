package graft

import org.apache.spark.sql.functions._

/** The analogue of the reference's `assert_same_plan`
  * (`rust/datafusion/src/execution/table_impl.rs:196`): SQL and the
  * DataFrame/Table API lower to the same optimized logical plan, so
  * neither surface can drift from the other.
  */
class SessionSpec extends SparkSpec {

  private lazy val session: Session = {
    val s = Session(spark)
    s.registerFixtures(sfDir)
    s
  }

  private def normalized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString
      .replaceAll("#\\d+L?", "#?") // strip expression ids

  test("select/filter: SQL == Table API plan") {
    val sql = session.sql(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 1000")
    val api = session.table("orders")
      .filter(col("o_totalprice") > 1000)
      .select(col("o_orderkey"), col("o_totalprice"))
    assert(normalized(sql) == normalized(api))
  }

  test("aggregate: SQL == Table API plan") {
    val sql = session.sql(
      "SELECT o_orderpriority, COUNT(1) AS n FROM orders GROUP BY o_orderpriority")
    val api = session.table("orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    assert(normalized(sql) == normalized(api))
  }

  test("registration surfaces agree: registerTable vs registerParquet") {
    session.registerParquet("orders_p", s"$sfDir/orders.parquet")
    val a = session.table("orders_p").count()
    val b = session.table("orders").count()
    assert(a == b)
  }

  test("registerIpc/writeIpc round-trip through the connector surface") {
    val src = session.table("orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    session.writeIpc(src, "/tmp/graft_egress/session_ipc")
    session.registerIpc("orders_ipc", "/tmp/graft_egress/session_ipc")
    assert(session.sql("SELECT COUNT(*) FROM orders_ipc").head.getLong(0) ==
      src.count())
  }

  test("registerAvro/writeAvro round-trip through the session surface") {
    val src = session.table("orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    session.writeAvro(src, "/tmp/graft_egress/session_avro")
    session.registerAvro("orders_avro", "/tmp/graft_egress/session_avro")
    assert(session.sql(
      "SELECT COUNT(*) c, COUNT(DISTINCT o_orderstatus) s FROM orders_avro")
      .head.toSeq == Seq(src.count(), 3L))
  }

  test("extension-type metadata survives projection and parquet round-trip") {
    val e = graft.ops.Arrays.annotateVector(
      graft.sources.Tables(spark, sfDir, "embeddings"), "embedding", 64)
    def meta(df: org.apache.spark.sql.DataFrame) =
      df.schema("embedding").metadata
    val projected = e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    assert(meta(projected).getString("graft.ext_type") == "vector.float32")
    assert(meta(projected).getLong("graft.dim") == 64L)
    val out = "/tmp/graft_egress/ext_type_roundtrip"
    projected.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(meta(back).getString("graft.ext_type") == "vector.float32")
    assert(meta(back).getLong("graft.dim") == 64L)
  }

  test("lakehouse SQL: CREATE/MERGE/SELECT over graft_log equals the " +
      "programmatic TableLog path; non-log SQL falls through") {
    // the SQL-driven scenario is log_merge3 verbatim -> identical rows
    val viaSql = graft.ops.Sql.qSqlMergeLog(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val viaApi = graft.ops.Egress.qLogMerge3(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(viaSql == viaApi, "SQL merge diverged from TableLog.mergeFull")
    // MERGE is one atomic commit on top of the CREATE: version 1
    val root = graft.ops.Egress.outRoot(sfDir) + "/tlog_sql_merge"
    val commits = graft.sources.TableLog.history(spark, root).count()
    assert(commits == 2, s"expected 2 commits, got $commits")
    // dispatch structure: plain SQL is untouched (None -> spark.sql)
    assert(graft.ops.LogSql.dispatch(spark, "SELECT 1 AS x").isEmpty)
    assert(graft.ops.LogSql.dispatch(spark,
      "CREATE TABLE t (x INT) USING parquet").isEmpty)
    // malformed merge clause fails loudly, not silently
    val e = intercept[IllegalArgumentException] {
      graft.ops.LogSql.dispatch(spark,
        s"MERGE INTO graft_log('$root') AS t USING (SELECT 1 AS k) AS s " +
        "ON t.k = s.k WHEN MATCHED THEN DELETE")
    }
    assert(e.getMessage.contains("unsupported MERGE clause") ||
      e.getMessage.contains("UPDATE"))
  }

  test("lakehouse SQL: WITH-CTE queries over graft_log dispatch like " +
      "bare SELECTs") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_cte").toString + "/t"
    graft.sources.TableLog.append(spark, root,
      (0 until 7).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val session = Session(spark)
    val n = session.sql(
      s"WITH x AS (SELECT * FROM graft_log('$root') WHERE id >= 2) " +
        "SELECT COUNT(*) AS n FROM x").head.getLong(0)
    assert(n == 5, s"CTE over graft_log returned $n")
  }

  test("lakehouse SQL: DESCRIBE HISTORY / RESTORE / VACUUM statement " +
      "forms drive the lifecycle verbs") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_lifecycle").toString + "/t"
    val session = Session(spark)
    graft.sources.TableLog.append(spark, root,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartition(2))                                           // v0
    graft.sources.TableLog.append(spark, root,
      (10 until 15).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartition(1))                                           // v1
    // DESCRIBE HISTORY: one row per commit, file accounting pinned
    val hist = session.sql(s"DESCRIBE HISTORY graft_log('$root')")
      .select("version", "n_add", "n_remove", "data_change")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3))).toSeq
    assert(hist == Seq((0, 2, 0, true), (1, 1, 0, true)), s"history: $hist")
    // RESTORE TABLE … TO VERSION AS OF: v1's rows gone, new commit
    val rv = session.sql(
      s"RESTORE TABLE graft_log('$root') TO VERSION AS OF 0")
      .head.getInt(0)
    assert(rv == 2, s"restore must commit a new version, got $rv")
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 10)
    // VACUUM … RETAIN FROM VERSION: v1's file reclaimed (no retained
    // version reaches it), time travel to it refuses, live unaffected
    val reclaimed = session.sql(
      s"VACUUM graft_log('$root') RETAIN FROM VERSION 2")
      .head.getInt(0)
    assert(reclaimed == 1, s"expected 1 reclaimed file, got $reclaimed")
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 10)
    // statements that aren't lifecycle forms still fall through
    assert(graft.ops.LogSql.dispatch(spark, "DESCRIBE HISTORY t").isEmpty)
  }

  test("lakehouse SQL: INSERT INTO, ALTER TABLE column/constraint " +
      "verbs, OPTIMIZE, and SHALLOW CLONE all dispatch") {
    val sp = spark; import sp.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_ddl").toString
    val root = base + "/t"
    val session = Session(spark)
    session.sql(s"CREATE TABLE graft_log('$root') AS " +
      "SELECT * FROM (VALUES (1, 10.0), (2, 20.0)) AS t(id, price)")
    // INSERT INTO appends one commit
    session.sql(s"INSERT INTO graft_log('$root') " +
      "SELECT * FROM (VALUES (3, 30.0)) AS t(id, price)")
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 3)
    // ADD COLUMN declares a nullable column without touching files
    session.sql(s"ALTER TABLE graft_log('$root') ADD COLUMN note STRING")
    assert(graft.sources.TableLog.snapshot(spark, root)
      .filter(col("note").isNull).count() == 3)
    // RENAME + DROP round out the evolution verbs
    session.sql(s"ALTER TABLE graft_log('$root') RENAME COLUMN note TO memo")
    session.sql(s"ALTER TABLE graft_log('$root') DROP COLUMN memo")
    assert(!graft.sources.TableLog.snapshot(spark, root)
      .columns.contains("memo"))
    // CHECK constraints: violating insert refuses, drop lifts the gate
    session.sql(s"ALTER TABLE graft_log('$root') " +
      "ADD CONSTRAINT pos CHECK (price > 0)")
    intercept[Exception] {
      session.sql(s"INSERT INTO graft_log('$root') " +
        "SELECT * FROM (VALUES (4, -1.0)) AS t(id, price)")
    }
    session.sql(s"ALTER TABLE graft_log('$root') DROP CONSTRAINT pos")
    session.sql(s"INSERT INTO graft_log('$root') " +
      "SELECT * FROM (VALUES (4, -1.0)) AS t(id, price)")
    // OPTIMIZE compacts to one file, answers unchanged
    session.sql(s"OPTIMIZE graft_log('$root')")
    val snap = graft.sources.TableLog.snapshot(spark, root)
    assert(snap.count() == 4 && snap.inputFiles.length == 1)
    // SHALLOW CLONE branches with zero data copies and diverges
    val dst = base + "/clone"
    session.sql(s"CREATE TABLE graft_log('$dst') " +
      s"SHALLOW CLONE graft_log('$root')")
    session.sql(s"INSERT INTO graft_log('$dst') " +
      "SELECT * FROM (VALUES (99, 9.0)) AS t(id, price)")
    assert(graft.sources.TableLog.snapshot(spark, dst).count() == 5)
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 4,
      "clone divergence leaked into the source")
  }

  test("SQL-vs-programmatic equivalence fuzz: 25 random DML/layout/" +
      "restore steps drive twin tables to identical snapshots") {
    val sp = spark; import sp.implicits._
    import graft.sources.TableLog
    val base = java.nio.file.Files
      .createTempDirectory("graft_sqlfuzz").toString
    val rootA = base + "/sql"     // driven by statement text
    val rootB = base + "/api"     // driven by the programmatic verbs
    val session = Session(spark)
    val rnd = new scala.util.Random(20260815L)
    def freshRows(n: Int, keyBase: Long): Seq[(Long, Long)] =
      (0 until n).map(i => (keyBase + i, rnd.nextInt(1000).toLong))
    def valuesSql(rows: Seq[(Long, Long)]): String =
      rows.map { case (k, v) => s"($k, $v)" }.mkString(
        "SELECT * FROM (VALUES ", ", ", ") AS t(k, v)")
    val init = freshRows(20, 0)
    session.sql(s"CREATE TABLE graft_log('$rootA') AS ${valuesSql(init)}")
    TableLog.append(spark, rootB, init.toDF("k", "v"))
    var nextKey = 1000L
    for (step <- 1 to 25) {
      rnd.nextInt(6) match {
        case 0 => // INSERT vs append
          val rows = freshRows(1 + rnd.nextInt(5), nextKey)
          nextKey += 100
          session.sql(s"INSERT INTO graft_log('$rootA') ${valuesSql(rows)}")
          TableLog.append(spark, rootB, rows.toDF("k", "v"))
        case 1 => // UPDATE vs update (zero-match no-ops included)
          val m = 2 + rnd.nextInt(6); val r = rnd.nextInt(m)
          val d = rnd.nextInt(50)
          session.sql(s"UPDATE graft_log('$rootA') SET v = v + $d " +
            s"WHERE k % $m = $r")
          TableLog.update(spark, rootB, col("k") % m === r,
            Map("v" -> (col("v") + d)))
        case 2 => // DELETE vs deleteVector
          val m = 3 + rnd.nextInt(7); val r = rnd.nextInt(m)
          session.sql(s"DELETE FROM graft_log('$rootA') WHERE k % $m = $r " +
            s"AND v < 500")
          TableLog.deleteVector(spark, rootB,
            col("k") % m === r && col("v") < 500)
        case 3 => // three-clause MERGE vs mergeFull
          val src = freshRows(3, nextKey) ++
            Seq((rnd.nextInt(20).toLong, 777L)) // one likely-matching key
          nextKey += 100
          session.sql(s"MERGE INTO graft_log('$rootA') AS t " +
            s"USING (${valuesSql(src)}) AS s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET v = s.v " +
            "WHEN NOT MATCHED THEN INSERT *")
          TableLog.mergeFull(spark, rootB, src.toDF("k", "v"), "k",
            lit(true), Map("v" -> col("src_v")), lit(false),
            insertUnmatched = true)
        case 4 => // OPTIMIZE vs compact (layout only, answers invariant)
          val n = 1 + rnd.nextInt(3)
          session.sql(s"OPTIMIZE graft_log('$rootA') INTO $n FILES")
          TableLog.compact(spark, rootB, n)
        case 5 => // RESTORE vs restore — identical op sequences keep
          // the twin version lines in lockstep, so one random target
          // version is valid for both
          val vs = TableLog.versions(spark, rootA)
          assert(vs == TableLog.versions(spark, rootB),
            s"step $step: version lines diverged — sql=$vs " +
              s"api=${TableLog.versions(spark, rootB)}")
          val tgt = vs(rnd.nextInt(vs.size))
          session.sql(
            s"RESTORE TABLE graft_log('$rootA') TO VERSION AS OF $tgt")
          TableLog.restore(spark, rootB, tgt)
      }
      val a = TableLog.snapshot(spark, rootA)
        .as[(Long, Long)].collect().sorted.toSeq
      val b = TableLog.snapshot(spark, rootB)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(a == b, s"step $step: SQL and programmatic tables " +
        s"diverged — |sql|=${a.size} |api|=${b.size}")
    }
  }

  test("lakehouse SQL: MERGE SET accepts alias-qualified targets, " +
      "refuses unknown/source columns, and literals survive alias " +
      "mapping") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_mergeset").toString + "/t"
    graft.sources.TableLog.append(spark, root,
      Seq((1L, 10.0, "x"), (2L, 20.0, "y")).toDF("k", "price", "note"))
    val session = Session(spark)
    // t.price (Delta's qualified form) maps to the bare target column;
    // the literal 'per s. smith' contains "<srcAlias>. " and must
    // reach the table VERBATIM, never as 'per src_smith'
    session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT 1 AS k, 99.0 AS price) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET t.price = s.price, " +
        "note = 'per s. smith'")
    val got = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 1L).select("price", "note")
      .as[(Double, String)].head()
    assert(got == ((99.0, "per s. smith")), s"got $got")
    // a misspelled SET column refuses loudly instead of no-oping
    val bad = intercept[IllegalArgumentException] {
      session.sql(
        s"MERGE INTO graft_log('$root') AS t " +
          "USING (SELECT 1 AS k, 5.0 AS price) AS s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET pricee = s.price")
    }
    assert(bad.getMessage.contains("unknown target column"))
    // assigning INTO the source is rejected at parse time
    val srcLhs = intercept[IllegalArgumentException] {
      session.sql(
        s"MERGE INTO graft_log('$root') AS t " +
          "USING (SELECT 1 AS k, 5.0 AS price) AS s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET s.price = 5.0")
    }
    assert(srcLhs.getMessage.contains("assigns target columns"))
    // ESCAPED quotes inside literals must not desync the alias
    // scanner: backslash ('it\'s s. x') and doubling ('it''s s. y')
    // both keep the scanner in-literal, so the "s. " inside stays
    // verbatim AND the s.price AFTER the literal still maps
    session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT 1 AS k, 77.0 AS price) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET note = 'it\\'s s. smith', " +
        "t.price = s.price")
    val esc = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 1L).select("price", "note")
      .as[(Double, String)].head()
    assert(esc == ((77.0, "it's s. smith")), s"got $esc")
    session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT 1 AS k, 88.0 AS price) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET note = 'it''s s. jones', " +
        "t.price = s.price")
    val dbl = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 1L).select("price", "note")
      .as[(Double, String)].head()
    assert(dbl == ((88.0, "it's s. jones")), s"got $dbl")
    // comments are opaque to the alias scanner (codeMask): an `s.`
    // inside a bracketed comment stays verbatim for Catalyst — only
    // the code-segment s.price maps to the src_ frame name
    session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT 1 AS k, 66.0 AS price) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET note = 'c', " +
        "t.price = /* not s.price here */ s.price")
    val cmt = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 1L).select("price", "note")
      .as[(Double, String)].head()
    assert(cmt == ((66.0, "c")), s"got $cmt")
  }

  test("lakehouse SQL: clause keywords inside literals and CASE arms " +
      "do not split MERGE/UPDATE — boundaries come from the masked scan") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_kwlit").toString + "/t"
    graft.sources.TableLog.append(spark, root,
      Seq((1L, 10.0, "x"), (2L, 20.0, "y")).toDF("k", "price", "note"))
    val session = Session(spark)
    // a SET literal containing " WHEN " must not start a new clause,
    // and one containing " WHERE " must not end an UPDATE's SET list
    session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT 1 AS k, 42.0 AS price) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET t.price = s.price, " +
        "note = 'use WHERE wisely WHEN in doubt'")
    val m1 = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 1L).select("price", "note")
      .as[(Double, String)].head()
    assert(m1 == ((42.0, "use WHERE wisely WHEN in doubt")), s"got $m1")
    // a CASE expression in the SET value: its WHEN/THEN belong to the
    // expression, not the clause structure
    session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT 1 AS k, 80.0 AS price) AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET t.price = " +
        "CASE WHEN s.price > 50 THEN s.price ELSE 0.0 END, note = 'case'")
    val m2 = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 1L).select("price", "note")
      .as[(Double, String)].head()
    assert(m2 == ((80.0, "case")), s"got $m2")
    // UPDATE: SET literal with " WHERE " — the real WHERE still found
    session.sql(
      s"UPDATE graft_log('$root') " +
        "SET note = 'see WHERE it lands' WHERE k = 2")
    val u = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("k") === 2L).select("note").as[String].head()
    assert(u == "see WHERE it lands", s"got $u")
    // the other rows are untouched
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 2)
  }

  test("lakehouse SQL: INSERT INTO and CREATE TABLE AS can read " +
      "OTHER graft_log tables in their source query") {
    val sp = spark; import sp.implicits._
    val srcRoot = java.nio.file.Files
      .createTempDirectory("graft_ins_src").toString + "/t"
    val dstRoot = java.nio.file.Files
      .createTempDirectory("graft_ins_dst").toString + "/t"
    graft.sources.TableLog.append(spark, srcRoot,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val session = Session(spark)
    session.sql(s"CREATE TABLE graft_log('$dstRoot') AS " +
      s"SELECT id, s FROM graft_log('$srcRoot') WHERE id = 1")
    assert(graft.sources.TableLog.snapshot(spark, dstRoot).count() == 1)
    session.sql(s"INSERT INTO graft_log('$dstRoot') " +
      s"SELECT id, s FROM graft_log('$srcRoot') WHERE id = 2")
    val ids = graft.sources.TableLog.snapshot(spark, dstRoot)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"got $ids")
  }

  test("lakehouse SQL: a graft_log reference inside a literal or " +
      "comment stays verbatim — only code references resolve") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_ref_mask").toString + "/t"
    graft.sources.TableLog.append(spark, root,
      Seq((1L, "a")).toDF("id", "s"))
    val session = Session(spark)
    // the literal mentions a NONEXISTENT root: resolving it would
    // throw from TableLog.snapshot, so passing proves it stayed text
    val got = session.sql(
      "SELECT id, 'see graft_log(''/nonexistent'') docs' AS note " +
        s"FROM graft_log('$root') -- graft_log('/alsonot')\n" +
        "WHERE id = 1").collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "see graft_log('/nonexistent') docs")
  }

  test("lakehouse SQL: a comment header/trailer does not stop a " +
      "statement head from dispatching") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_hdr").toString + "/t"
    val session = Session(spark)
    session.sql(s"-- pipeline: nightly\nCREATE TABLE graft_log('$root') " +
      "AS SELECT 1 AS k, CAST(10.0 AS DOUBLE) AS v -- initial load")
    session.sql(s"/* step 2 */ UPDATE graft_log('$root') " +
      "SET v = CAST(20.0 AS DOUBLE) WHERE k = 1 -- bump")
    val got = graft.sources.TableLog.snapshot(spark, root)
      .select("v").as[Double].head()
    assert(got == 20.0, s"got $got")
  }

  test("lakehouse SQL: CREATE refuses an existing table; CREATE OR " +
      "REPLACE overwrites in one commit") {
    val sp = spark; import sp.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_create").toString + "/t"
    val session = Session(spark)
    session.sql(
      s"CREATE TABLE graft_log('$root') AS SELECT 1 AS id, 'a' AS s")
    // a retried CREATE must fail loudly, not silently double the rows
    val e = intercept[IllegalArgumentException] {
      session.sql(
        s"CREATE TABLE graft_log('$root') AS SELECT 1 AS id, 'a' AS s")
    }
    assert(e.getMessage.contains("already exists"))
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 1)
    session.sql(s"CREATE OR REPLACE TABLE graft_log('$root') AS " +
      "SELECT * FROM (VALUES (10, 'r'), (11, 'r')) AS t(id, s)")
    val snap = graft.sources.TableLog.snapshot(spark, root)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(snap == Seq((10, "r"), (11, "r")), s"got $snap")
  }

  /** A table of two range-disjoint files with key stats: ids [0,49]
    * and [100,149]; returns (root, live files). */
  private def disjointTable(): (String, Set[String]) = {
    val sp = spark; import sp.implicits._
    import graft.sources.TableLog
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlmerge").toString + "/t"
    def rows(from: Int, until: Int) =
      (from until until).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    TableLog.append(spark, root, rows(0, 50).repartition(1), Seq("id"))
    TableLog.append(spark, root, rows(100, 150).repartition(1), Seq("id"))
    (root, live(root))
  }

  private def live(root: String): Set[String] =
    graft.sources.TableLog.replayState(spark, root, -1,
      useCheckpoint = false)._1.map(_._1).toSet

  test("lakehouse SQL: MERGE without BY SOURCE rewrites only the files " +
      "whose key stats admit a match; with it, every file") {
    val (root, before) = disjointTable()
    val session = Session(spark)
    def merge(bySource: String): Unit = session.sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT * FROM (VALUES (10L, 'u10'), (500L, 'i500')) " +
        "AS v(id, s)) AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET s = s.s " +
        s"WHEN NOT MATCHED THEN INSERT * $bySource STATS (id)")
    merge("")
    val afterPruned = live(root)
    assert((before & afterPruned).size == 1,
      s"the [100,149] file must keep its identity: $before -> $afterPruned")
    merge("WHEN NOT MATCHED BY SOURCE AND t.id < 0 THEN DELETE")
    assert((afterPruned & live(root)).isEmpty,
      "a BY SOURCE clause must rewrite every live file")
    val got = graft.sources.TableLog.snapshot(spark, root)
      .filter(col("id").isin(10L, 30L, 120L, 500L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "u10", 30L -> "row30", 120L -> "row120",
      500L -> "i500"), s"got $got")
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 101)
  }

  test("lakehouse SQL: an insert-only MERGE with change capture off " +
      "reads back from tableChanges as its inserts") {
    val (root, before) = disjointTable()
    assert(spark.conf.getOption("spark.graft.tablelog.cdf")
      .forall(!_.toBoolean), "capture must be off for this case")
    val v = Session(spark).sql(
      s"MERGE INTO graft_log('$root') AS t " +
        "USING (SELECT * FROM (VALUES (1000L, 'a'), (1001L, 'b')) " +
        "AS v(id, s)) AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET s = s.s " +
        "WHEN NOT MATCHED THEN INSERT * STATS (id)")
      .head().getInt(0)
    val feed = graft.sources.TableLog.tableChanges(spark, root, v - 1)
      .select("id", graft.sources.TableLog.ChangeTypeCol)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(feed == Seq((1000L, "insert"), (1001L, "insert")), s"got $feed")
    assert(before.subsetOf(live(root)), "an insert-only MERGE removed files")
  }

  /** A fresh 150-row `graft_log` table with key stats on `id`, created
    * through SQL; returns its `graft_log('…')` reference and root. */
  private def sqlTable(session: Session): (String, String) = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqljobs").toString + "/t"
    val t = s"graft_log('$root')"
    session.sql(s"CREATE TABLE $t STATS (id) AS " +
      "SELECT id, id % 7 AS g FROM range(150)")
    (t, root)
  }

  test("lakehouse SQL: each commit runs only the Spark jobs its data " +
      "needs: DELETE 1, OPTIMIZE after it 1, UPDATE 2, MERGE 6") {
    val session = Session(spark)
    val (t, root) = sqlTable(session)
    val delete = jobsDuring(session.sql(s"DELETE FROM $t WHERE id % 11 = 0"))
    val optimize = jobsDuring(session.sql(s"OPTIMIZE $t"))
    val update = jobsDuring(session.sql(
      s"UPDATE $t SET g = g + 1 WHERE id % 13 = 0 STATS (id)"))
    // a VALUES source, not range(…): a range is already clustered by
    // its id, which spares any distinct-key count its key shuffle
    val rows = (140 until 160).map(i => s"(${i}L, 1L)").mkString(", ")
    val merge = jobsDuring(session.sql(
      s"""MERGE INTO $t AS t
         |USING (SELECT * FROM VALUES $rows AS v(id, g)) AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET g = s.g
         |WHEN NOT MATCHED THEN INSERT *
         |STATS (id)""".stripMargin))
    assert((delete, optimize, update, merge) == (1, 1, 2, 6),
      s"jobs per statement: DELETE $delete, OPTIMIZE $optimize, " +
        s"UPDATE $update, MERGE $merge")
    // 14 ids deleted; 143 of them comes back as a MERGE insert
    val snap = graft.sources.TableLog.snapshot(spark, root)
    assert(snap.count() == 150 - 14 + 11)
    assert(snap.filter(col("id") % 13 === 0 && col("id") < 140)
      .collect().forall(r => r.getLong(1) == r.getLong(0) % 7 + 1))
  }

  test("lakehouse SQL: a DELETE matching nothing publishes no version " +
      "and leaves no -dv or -cdc directory, with capture off and on") {
    val session = Session(spark)
    Seq("false", "true").foreach { cdf =>
      val (t, root) = sqlTable(session)
      spark.conf.set("spark.graft.tablelog.cdf", cdf)
      val v = try session.sql(s"DELETE FROM $t WHERE id < 0").head().getInt(0)
        finally spark.conf.unset("spark.graft.tablelog.cdf")
      assert(v == 0, s"capture $cdf: a no-op DELETE returned version $v")
      assert(graft.sources.TableLog.versions(spark, root) == Seq(0),
        s"capture $cdf: a no-op DELETE published a version")
      val left = new java.io.File(s"$root/data").list()
        .filter(d => d.endsWith("-dv") || d.endsWith("-cdc"))
      assert(left.isEmpty, s"capture $cdf: left ${left.mkString(", ")}")
    }
  }

  test("lakehouse SQL: OPTIMIZE keeps the key stats, so a MERGE after " +
      "it leaves the file outside its keys' range untouched") {
    val (root, _) = disjointTable()
    val session = Session(spark)
    session.sql(s"OPTIMIZE graft_log('$root') INTO 2 FILES")
    val compacted = live(root)
    assert(compacted.size == 2, s"expected two files, got $compacted")
    session.sql(s"MERGE INTO graft_log('$root') AS t " +
      "USING (SELECT * FROM (VALUES (10L, 'u10')) AS v(id, s)) AS s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET s = s.s STATS (id)")
    assert((compacted & live(root)).size == 1,
      s"the [100,149] file must keep its identity: $compacted -> ${live(root)}")
    assert(graft.sources.TableLog.snapshot(spark, root)
      .filter(col("s") === "u10").count() == 1)
  }

  test("lakehouse SQL: a round of commits and pinned reads starts no " +
      "checkPathsExist thread") {
    val session = Session(spark)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ThreadStart")
    rec.start()
    val root = try {
      val (t, root) = sqlTable(session)
      Seq(s"INSERT INTO $t SELECT id, 0L AS g FROM range(150, 170)",
        s"DELETE FROM $t WHERE id % 11 = 0",
        s"UPDATE $t SET g = g + 1 WHERE id % 13 = 0 STATS (id)",
        s"OPTIMIZE $t").foreach(session.sql)
      (0 to 4).foreach { v =>
        graft.sources.TableLog.snapshot(spark, root, v)
          .createOrReplaceTempView("pinned")
        session.sql("SELECT g, COUNT(*) FROM pinned GROUP BY g").collect()
      }
      root
    } finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("graft_nocheck", ".jfr")
    try {
      rec.dump(dump)
      import scala.jdk.CollectionConverters._
      val checks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .flatMap(e => Option(e.getThread("thread")).map(_.getJavaName))
        .filter(n => n != null && n.startsWith("checkPathsExist"))
      assert(checks.isEmpty, s"${checks.size} threads: ${checks.take(3)}")
    } finally { rec.close(); java.nio.file.Files.delete(dump) }
    assert(graft.sources.TableLog.snapshot(spark, root).count() == 170 - 16)
  }
}
