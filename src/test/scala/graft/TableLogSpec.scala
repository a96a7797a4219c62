package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TableLog

/** Transaction-log contracts the time_travel oracle can't express:
  * snapshot stability under concurrent commits, atomic compaction
  * swap, vacuum reachability, and the CAS version race. */
class TableLogSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_tlog").toString + "/t"

  private def nums(from: Int, until: Int) = {
    val sp = spark; import sp.implicits._
    (from until until).map(i => (i.toLong, s"row$i")).toDF("id", "s")
  }

  test("append versions accumulate; time travel replays any prefix") {
    val root = freshRoot()
    val v0 = TableLog.append(spark, root, nums(0, 100))
    val v1 = TableLog.append(spark, root, nums(100, 150))
    val v2 = TableLog.append(spark, root, nums(150, 160))
    assert(Seq(v0, v1, v2) == Seq(0, 1, 2))
    assert(TableLog.snapshot(spark, root, 0).count() == 100)
    assert(TableLog.snapshot(spark, root, 1).count() == 150)
    assert(TableLog.snapshot(spark, root).count() == 160)
    // content, not just counts: ids are exactly the committed range
    val ids = TableLog.snapshot(spark, root, 1)
      .agg(min("id"), max("id"), count_distinct(col("id"))).head()
    assert((ids.getLong(0), ids.getLong(1), ids.getLong(2)) == (0L, 149L, 150L))
  }

  test("an open snapshot is isolated from later appends and overwrites") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 50))
    val snap = TableLog.snapshot(spark, root) // resolves files NOW
    TableLog.append(spark, root, nums(50, 90))
    TableLog.overwrite(spark, root, nums(0, 5))
    assert(snap.count() == 50, "open snapshot saw a later commit")
    assert(TableLog.snapshot(spark, root).count() == 5,
      "overwrite must replace the whole live set")
    assert(TableLog.snapshot(spark, root, 1).count() == 90,
      "pre-overwrite version must remain readable")
  }

  test("compaction swaps the live set atomically and preserves content") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 30).repartition(6))
    TableLog.append(spark, root, nums(30, 60).repartition(6))
    val before = TableLog.snapshot(spark, root)
      .inputFiles.length
    assert(before >= 12, s"expected >=12 small files, got $before")
    val cv = TableLog.compact(spark, root, 2)
    val after = TableLog.snapshot(spark, root)
    assert(after.inputFiles.length == 2, "compaction file count")
    assert(after.count() == 60 &&
      after.agg(sum("id")).head().getLong(0) == (0 until 60).sum,
      "compaction changed table content")
    // pre-compaction snapshot still reads the OLD files
    assert(TableLog.snapshot(spark, root, cv - 1).count() == 60)
  }

  test("vacuum reclaims only files unreachable from retained versions") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 40))
    TableLog.append(spark, root, nums(40, 50))
    val cv = TableLog.compact(spark, root, 1)
    TableLog.vacuum(spark, root, retainFrom = cv)
    // latest still intact
    assert(TableLog.snapshot(spark, root).count() == 50)
    // the pre-compaction version's files are gone
    intercept[Exception] {
      TableLog.snapshot(spark, root, cv - 1).count()
    }
  }

  test("readRange prunes files from log stats without opening them; " +
      "files without stats are never pruned") {
    val root = freshRoot()
    val sp = spark; import sp.implicits._
    // 8 range-clustered files over ids 0..799 -> tight per-file bounds
    val df = (0 until 800).map(i => (i.toLong, i % 7)).toDF("id", "v")
      .repartitionByRange(8, col("id"))
    TableLog.append(spark, root, df, statsCols = Seq("id"))
    val pruned = TableLog.readRange(spark, root, "id", 100L, 199L)
    assert(pruned.inputFiles.length < 8,
      s"stats pruned nothing: ${pruned.inputFiles.length} of 8 files read")
    assert(pruned.count() == 100 &&
      pruned.agg(min("id"), max("id")).head().toSeq == Seq(100L, 199L),
      "pruned read lost or leaked rows")
    // a stats-less commit must always be read (pruning can only drop
    // a file whose stats PROVE it irrelevant)
    TableLog.append(spark, root, Seq((5000L, 1)).toDF("id", "v"))
    assert(TableLog.readRange(spark, root, "id", 100L, 199L)
      .inputFiles.length >= pruned.inputFiles.length + 1,
      "a file without stats was pruned")
  }

  test("deleteRange rewrites only files whose stats admit a match") {
    val root = freshRoot()
    val sp = spark; import sp.implicits._
    val df = (0 until 800).map(i => (i.toLong, s"u$i")).toDF("id", "u")
      .repartitionByRange(8, col("id"))
    TableLog.append(spark, root, df, statsCols = Seq("id"))
    val before = TableLog.snapshot(spark, root).inputFiles.toSet
    val dv = TableLog.deleteRange(spark, root, "id", 100L, 149L)
    val after = TableLog.snapshot(spark, root)
    assert(after.count() == 750 &&
      after.filter(col("id").between(100, 149)).count() == 0,
      "delete semantics wrong")
    // untouched files keep their identity: only matching files swapped
    val kept = before.intersect(after.inputFiles.toSet)
    assert(kept.size >= 6, s"delete rewrote non-matching files (${kept.size} kept of 8)")
    // pre-delete version still time-travels to the full table
    assert(TableLog.snapshot(spark, root, dv - 1).count() == 800)
  }

  test("changesSince emits appended rows once; compaction and delete " +
      "rewrites are not data changes") {
    val root = freshRoot()
    val v0 = TableLog.append(spark, root, nums(0, 50))
    TableLog.append(spark, root, nums(50, 90))
    assert(TableLog.changesSince(spark, root, v0).count() == 40)
    val cv = TableLog.compact(spark, root, 1)
    assert(TableLog.changesSince(spark, root, cv - 1).count() == 0,
      "compaction re-emitted old rows as changes")
    TableLog.append(spark, root, nums(90, 95))
    assert(TableLog.changesSince(spark, root, cv).count() == 5)
    assert(TableLog.changesSince(spark, root, 9999).count() == 0)
  }

  test("schema evolves additively: old files read the union schema") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
    TableLog.append(spark, root,
      Seq((2L, "b", 7.5)).toDF("id", "s", "score"))
    val snap = TableLog.snapshot(spark, root).orderBy("id")
    assert(snap.columns.toSet == Set("id", "s", "score"))
    val rows = snap.collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")),
      "pre-evolution row must read NULL for the new column")
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 7.5)
  }

  test("z-order rewrite makes box reads prune on BOTH dimensions; " +
      "single-column clustering prunes only its own") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    // 64x64 grid: x and y are independent, so x-sorted files have
    // full-range y bounds and vice versa
    val grid = (0 until 4096).map(i => (i.toLong / 64, i.toLong % 64))
      .toDF("x", "y")
    TableLog.append(spark, root, grid.repartitionByRange(16, col("x")),
      statsCols = Seq("x", "y"))
    // x-clustered: an x-slice prunes, a y-slice cannot
    val xScan = TableLog.readBox(spark, root, "x", 0, 7, "y", 0, 63)
    val yScan = TableLog.readBox(spark, root, "x", 0, 63, "y", 0, 7)
    assert(xScan.inputFiles.length <= 4, "x-cluster failed to prune x")
    assert(yScan.inputFiles.length == 16, "y pruned without y clustering?")
    // z-order rewrite through the log: same rows, both dims prune
    val snap = TableLog.snapshot(spark, root)
    TableLog.rewrite(spark, root, statsCols = Seq("x", "y"))(dir =>
      graft.ops.Layout.zorderBy(snap, "x", "y", 16, dir))
    val zx = TableLog.readBox(spark, root, "x", 0, 7, "y", 0, 63)
    val zy = TableLog.readBox(spark, root, "x", 0, 63, "y", 0, 7)
    val zbox = TableLog.readBox(spark, root, "x", 0, 15, "y", 0, 15)
    assert(zx.inputFiles.length < 16 && zy.inputFiles.length < 16,
      s"z-order should prune BOTH dims (x: ${zx.inputFiles.length}, " +
        s"y: ${zy.inputFiles.length} of 16)")
    assert(zbox.inputFiles.length < 16 / 2, "box query should prune hard")
    // pruning never changes answers
    assert(zx.count() == 8 * 64 && zy.count() == 64 * 8 &&
      zbox.count() == 16 * 16)
  }

  test("concurrent commits CAS onto distinct versions, none lost") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 10))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 4).toList.map { i =>
        Future(TableLog.append(spark, root, nums(i * 100, i * 100 + 10)))
      }), 120.seconds)
    assert(results.distinct.size == 4, s"version collision: $results")
    assert(TableLog.snapshot(spark, root).count() == 50,
      "a racing commit's rows were lost")
  }

  test("log checkpoint: snapshot after many commits replays checkpoint " +
      "+ suffix only, and answers are unchanged") {
    val key = "spark.graft.tablelog.checkpointInterval"
    spark.conf.set(key, "10")
    try {
      val root = freshRoot()
      (0 until 25).foreach(i => TableLog.append(spark, root, nums(i * 10, i * 10 + 10)))
      val (state, base, tail) =
        TableLog.replayState(spark, root, -1, useCheckpoint = true)
      assert(base.contains(20), s"expected checkpoint v20 used, got $base")
      assert(tail == 4, s"expected 4-entry suffix replay, got $tail")
      assert(TableLog.snapshot(spark, root).count() == 250)
      // time travel below the checkpoint still works (earlier ckpt or raw replay)
      assert(TableLog.snapshot(spark, root, 12).count() == 130)
      // checkpointed replay = raw replay, exactly
      val raw = TableLog.replayState(spark, root, -1, useCheckpoint = false)._1
      assert(state == raw, "checkpointed live state diverged from raw replay")
    } finally spark.conf.unset(key)
  }

  test("deleteRange keeps NULL-valued rows in rewritten files") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val df = Seq((Some(1L), "a"), (None, "null-row"), (Some(5L), "b"),
      (Some(9L), "c")).toDF("id", "s")
    TableLog.append(spark, root, df, statsCols = Seq("id"))
    TableLog.deleteRange(spark, root, "id", 4L, 6L)
    val left = TableLog.snapshot(spark, root).select("s")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(left == Seq("a", "c", "null-row"),
      s"NULL row lost by deleteRange rewrite: $left")
  }

  test("readRange returns empty (not an error) when stats prune every " +
      "file, and all-NULL stats columns stay in the always-read class") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 50).repartition(1), Seq("id"))
    assert(TableLog.readRange(spark, root, "id", 1000L, 2000L).count() == 0)
    // second commit whose id column is all NULL: no stats line emitted,
    // so the file is always read and its rows reachable via residual-
    // compatible ranges; it must NOT be mis-pruned by a bogus (0,0)
    val nullDf = Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("id", "s")
    TableLog.append(spark, root, nullDf.repartition(1), Seq("id"))
    // range far outside (0,0): the null-id file must still be OPENED
    // (always-read), though its rows fail the residual filter
    val r = TableLog.readRange(spark, root, "id", 40L, 45L)
    assert(r.count() == 6) // ids 40..45; null rows filtered by residual
  }

  test("merge rewrites only files whose key stats admit a match; " +
      "updates replace, inserts append, duplicate source keys reject") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    // two range-disjoint files: [0,49] and [100,149]
    TableLog.append(spark, root, nums(0, 50).repartition(1), Seq("id"))
    TableLog.append(spark, root, nums(100, 150).repartition(1), Seq("id"))
    val before = TableLog.replayState(spark, root, -1, useCheckpoint = false)._1
      .map(_._1).toSet
    // source touches only the low file's range + fresh insert keys
    val source = Seq((10L, "updated10"), (20L, "updated20"),
      (500L, "ins500")).toDF("id", "s")
    TableLog.merge(spark, root, source, "id", Seq("id"))
    val after = TableLog.replayState(spark, root, -1, useCheckpoint = false)._1
      .map(_._1).toSet
    val untouched = before.filter(after)
    assert(untouched.nonEmpty, "high file should keep its identity")
    assert(TableLog.snapshot(spark, root).count() == 101) // 100 + 1 insert
    val got = TableLog.snapshot(spark, root)
      .filter(col("id").isin(10L, 20L, 500L, 30L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(10L -> "updated10", 20L -> "updated20",
      500L -> "ins500", 30L -> "row30"))
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "s")
    val e = intercept[IllegalArgumentException] {
      TableLog.merge(spark, root, dup, "id")
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("a torn or empty checkpoint is ignored: replay falls back to the " +
      "raw JSON log instead of silently dropping live files") {
    val key = "spark.graft.tablelog.checkpointInterval"
    spark.conf.set(key, "10")
    try {
      val root = freshRoot()
      (0 until 12).foreach(i =>
        TableLog.append(spark, root, nums(i * 10, i * 10 + 10)))
      val truth = TableLog.snapshot(spark, root).count()
      // simulate the torn write writeCheckpoint's tmp+rename prevents:
      // a concurrent reader observing the file mid-create
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ckpt = new org.apache.hadoop.fs.Path(f"$root/_log/ckpt-v${10}%05d.tsv")
      assert(f.exists(ckpt), "expected a checkpoint at v10")
      def overwrite(body: String): Unit = {
        f.delete(ckpt, false)
        val out = f.create(ckpt, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      overwrite("") // empty: reader must NOT treat as empty live set
      assert(TableLog.snapshot(spark, root).count() == truth,
        "empty checkpoint dropped live files")
      overwrite("data/x/part-0.parquet") // torn: no tab, no #end
      assert(TableLog.snapshot(spark, root).count() == truth,
        "torn checkpoint trusted")
      val (_, base, _) =
        TableLog.replayState(spark, root, -1, useCheckpoint = true)
      assert(base.isEmpty, "malformed checkpoint must be treated as absent")
    } finally spark.conf.unset(key)
  }

  test("merge larger than the broadcast key budget falls back to a " +
      "shuffle anti-join and produces the same table") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 200).repartition(2), Seq("id"))
    val source = (0 until 300).map(i =>
      (i.toLong * 2, s"merged${i * 2}")).toDF("id", "s")
    val key = "spark.graft.merge.broadcastMaxKeys"
    spark.conf.set(key, "10") // force every join onto the shuffle path
    try TableLog.merge(spark, root, source, "id", Seq("id"))
    finally spark.conf.unset(key)
    val snap = TableLog.snapshot(spark, root)
    // 200 originals, evens 0..198 replaced (100), evens 200..598
    // inserted (200), odds kept (100) -> 400 rows
    assert(snap.count() == 400)
    val got = snap.filter(col("id").isin(4L, 5L, 400L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(4L -> "merged4", 5L -> "row5", 400L -> "merged400"))
  }

  test("mergeUpdate: predicate gates the update, only SET columns " +
      "change, unmatched source rows insert") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val target = Seq((1L, "keep", 10L), (2L, "upd", 20L), (3L, "upd", 30L),
      (4L, "other", 40L)).toDF("id", "tag", "v")
    TableLog.append(spark, root, target.repartition(1), Seq("id"))
    // source hits ids 1,2,3 (1 fails the predicate via tag=keep) and
    // brings fresh id 9
    val source = Seq((1L, "src", 100L), (2L, "src", 200L),
      (3L, "src", 300L), (9L, "src", 900L)).toDF("id", "tag", "v")
    TableLog.mergeUpdate(spark, root, source, "id",
      cond = col("tag") =!= lit("keep"),
      set = Map("v" -> (col("src_v") + 1L)))
    val got = TableLog.snapshot(spark, root)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got(1L) == ("keep", 10L), "predicate-failing row must not change")
    assert(got(2L) == ("upd", 201L), "SET expression over src_ column")
    assert(got(3L) == ("upd", 301L))
    assert(got(4L) == ("other", 40L), "unmatched target row untouched")
    assert(got(9L) == ("src", 900L), "unmatched source row inserted")
    // tag was not in SET -> matched rows keep their target tag
    assert(got.size == 5)
    // insertUnmatched = false drops fresh keys instead
    val root2 = freshRoot()
    TableLog.append(spark, root2, target.repartition(1), Seq("id"))
    TableLog.mergeUpdate(spark, root2, source, "id",
      cond = lit(true), set = Map("v" -> col("src_v")),
      insertUnmatched = false)
    assert(TableLog.snapshot(spark, root2).count() == 4)
    assert(TableLog.snapshot(spark, root2).filter(col("id") === 2L)
      .head.getLong(2) == 200L)
  }

  test("txn watermarks survive checkpointing; replays skip; history " +
      "reports commits relationally") {
    val key = "spark.graft.tablelog.checkpointInterval"
    spark.conf.set(key, "5")
    try {
      val root = freshRoot()
      (0 until 12).foreach(i => assert(
        TableLog.appendIdempotent(spark, root, nums(i * 10, i * 10 + 10),
          "loader", i.toLong).isDefined))
      // checkpoints at v5 and v10 carry the #txn watermark; the replay
      // check must see it THROUGH the checkpoint (suffix-only scan)
      assert(TableLog.lastTxnVersion(spark, root, "loader").contains(11L))
      assert(TableLog.appendIdempotent(spark, root, nums(0, 5),
        "loader", 7L).isEmpty, "replayed epoch must skip")
      assert(TableLog.appendIdempotent(spark, root, nums(0, 5),
        "other-app", 0L).isDefined, "watermarks are per-app")
      assert(TableLog.snapshot(spark, root).count() == 125)
      val h = TableLog.history(spark, root).collect()
      assert(h.length == 13)
      assert(h.forall(r => r.getInt(1) >= 1 && r.getInt(2) == 0))
      assert(h.take(12).forall(_.getString(4) == "loader"))
      assert(h.take(12).map(_.getLong(5)).toSeq == (0L until 12L))
      assert(h.last.getString(4) == "other-app")
    } finally spark.conf.unset(key)
  }

  test("restore reverts the live set to an old version as a NEW commit, " +
      "keeping history time-travelable") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 50))         // v0
    TableLog.append(spark, root, nums(50, 80), Seq("id")) // v1
    TableLog.deleteRange(spark, root, "id", 0L, 9L)   // v2: 70 rows
    assert(TableLog.snapshot(spark, root).count() == 70)
    val rv = TableLog.restore(spark, root, 1)
    assert(rv == 3, s"restore must be a new commit, got v$rv")
    // content equals v1 exactly (deleted rows back)
    assert(TableLog.snapshot(spark, root).count() == 80)
    assert(TableLog.snapshot(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet == (0L until 80L).toSet)
    // the undone delete remains time-travelable
    assert(TableLog.snapshot(spark, root, 2).count() == 70)
    assert(TableLog.history(spark, root).count() == 4)
    // restoring to a vacuumed version refuses loudly
    TableLog.compact(spark, root, 1)                  // v4
    TableLog.vacuum(spark, root, retainFrom = 4)
    val e = intercept[IllegalArgumentException] {
      TableLog.restore(spark, root, 0)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("a layout rewrite racing a delete aborts instead of resurrecting " +
      "deleted rows") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 100).repartition(2), Seq("id"))
    val snap = TableLog.snapshot(spark, root)
    val e = intercept[java.util.ConcurrentModificationException] {
      TableLog.rewrite(spark, root, Seq("id")) { dir =>
        snap.coalesce(1).write.parquet(dir)
        // intervening committer deletes rows AFTER the rewrite read
        // its base state but BEFORE it publishes
        TableLog.deleteRange(spark, root, "id", 0L, 10L)
      }
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the delete's outcome survives; the rewrite never published
    assert(TableLog.snapshot(spark, root).count() == 89)
  }

  test("OPTIMIZE ZORDER: box reads open fewer files after the rewrite, " +
      "answers and time travel are unchanged") {
    val root = freshRoot()
    val sp = spark; import sp.implicits._
    // worst pruning layout: every commit spans the full range of BOTH
    // dims, in 3 files each — no box read can skip anything
    for (salt <- 0 until 3) {
      val df = (0 until 600).map { i =>
        (i.toLong * 3 + salt, (i % 100).toLong, ((i * 37 + salt) % 100).toLong)
      }.toDF("id", "x", "y").repartition(3)
      TableLog.append(spark, root, df, statsCols = Seq("x", "y"))
    }
    val before = TableLog.readBox(spark, root, "x", 10, 19, "y", 10, 19)
    val beforeFiles = before.inputFiles.length
    val beforeRows = before.collect().map(_.toSeq).toSet
    assert(beforeFiles == 9, s"expected the unpruned 9-file layout: $beforeFiles")
    val preVersion = TableLog.versions(spark, root).max
    graft.ops.Layout.optimizeZorder(spark, root, "x", "y", 8)
    val after = TableLog.readBox(spark, root, "x", 10, 19, "y", 10, 19)
    assert(after.inputFiles.length < beforeFiles,
      s"z-order rewrite did not improve pruning: ${after.inputFiles.length} of 8")
    assert(after.collect().map(_.toSeq).toSet == beforeRows,
      "optimize changed the box answer")
    // the optimize is dataChange=false physical reorganization only:
    // the pre-optimize version still reads the same logical table
    assert(TableLog.snapshot(spark, root, preVersion).count() == 1800)
    assert(TableLog.snapshot(spark, root).count() == 1800)
  }

  test("addColumn declares a nullable column: metadata-only commit, " +
      "nulls before data arrives, populated after") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 10))
    val evolveV = TableLog.addColumn(spark, root, "score",
      org.apache.spark.sql.types.LongType)
    // metadata-only: no data files added or removed by the commit
    val hist = TableLog.history(spark, root)
      .filter(col("version") === evolveV).head()
    assert(hist.getInt(1) == 0 && hist.getInt(2) == 0, s"not metadata-only: $hist")
    assert(!hist.getBoolean(3), "schema commit must be dataChange=false")
    // declared column reads as null for pre-evolution rows
    val snap = TableLog.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("id", "s", "score"))
    assert(snap.filter(col("score").isNull).count() == 10)
    // post-evolution append populates it; old rows stay null
    val sp = spark; import sp.implicits._
    TableLog.append(spark, root,
      (10 until 15).map(i => (i.toLong, s"row$i", i.toLong * 7))
        .toDF("id", "s", "score"))
    val out = TableLog.snapshot(spark, root)
    assert(out.filter(col("score").isNotNull).count() == 5)
    assert(out.filter(col("id") === 12).head().getLong(2) == 84L)
    // time travel below the evolution version sees the OLD schema
    assert(TableLog.snapshot(spark, root, 0).columns.toSeq == Seq("id", "s"))
    // duplicate declaration rejects
    intercept[IllegalArgumentException] {
      TableLog.addColumn(spark, root, "score",
        org.apache.spark.sql.types.LongType)
    }
  }

  test("incompatible writes reject at CAS time: type change and " +
      "dropped non-nullable column; legal evolution still lands") {
    val root = freshRoot()
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.types._
    // base schema with a NON-nullable id
    val base = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("s", StringType))))
    TableLog.append(spark, root, base)
    // incompatible type change on an existing column -> reject
    // (id as STRING — unrelated to LONG in the widening order; a
    // NARROWER integral id would now be a legal upcast append)
    val typeChanged = Seq(("3", "c")).toDF("id", "s")
    val e1 = intercept[IllegalStateException] {
      TableLog.append(spark, root, typeChanged)
    }
    assert(e1.getMessage.contains("type change"), e1.getMessage)
    // dropping the non-nullable column -> reject
    val droppedId = Seq(("c")).toDF("s")
    val e2 = intercept[IllegalStateException] {
      TableLog.append(spark, root, droppedId)
    }
    assert(e2.getMessage.contains("non-nullable"), e2.getMessage)
    // nothing landed: the log still has exactly the base commit
    assert(TableLog.versions(spark, root) == Seq(0))
    assert(TableLog.snapshot(spark, root).count() == 2)
    // legal: adding a nullable column in an append
    val widened = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(3L, "c", "extra")),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("s", StringType), StructField("note", StringType))))
    TableLog.append(spark, root, widened)
    val snap = TableLog.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("id", "s", "note"))
    assert(snap.count() == 3 && snap.filter(col("note").isNull).count() == 2)
    // legal: omitting a nullable column (old writer) after evolution
    TableLog.append(spark, root, Seq((4L, "d")).toDF("id", "s"))
    assert(TableLog.snapshot(spark, root).count() == 4)
    // overwrite with an incompatible schema rejects unless explicit
    // (string id — a narrower integral id is now a legal upcast)
    intercept[IllegalStateException] {
      TableLog.overwrite(spark, root, Seq(("1", "z")).toDF("id", "s"))
    }
    TableLog.overwrite(spark, root, Seq(("1", "z")).toDF("id", "s"),
      overwriteSchema = true)
    assert(TableLog.snapshot(spark, root).count() == 1)
  }

  test("change data feed: appends derive inserts, merge captures " +
      "pre/post/insert, delete captures preimages, layout emits nothing") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    spark.conf.set("spark.graft.tablelog.cdf", "true")
    try {
      TableLog.append(spark, root, nums(0, 20), statsCols = Seq("id")) // v0
      val src = ((5 until 10).map(i => (i.toLong, "upd")) ++
        (100 until 105).map(i => (i.toLong, s"new$i"))).toDF("id", "s")
      TableLog.merge(spark, root, src, "id", statsCols = Seq("id"))    // v1
      TableLog.deleteRange(spark, root, "id", 0L, 2L)                  // v2
      TableLog.compact(spark, root, 1)                                 // v3
      val feed = TableLog.tableChanges(spark, root, -1).cache()
      def slice(v: Int, t: String) = feed
        .filter(col(TableLog.CommitVersionCol) === v &&
          col(TableLog.ChangeTypeCol) === t)
      assert(slice(0, "insert").count() == 20, "v0 inserts")
      val pre = slice(1, "update_preimage")
      assert(pre.count() == 5 &&
        pre.filter(col("s").startsWith("row")).count() == 5,
        "preimages carry the OLD values")
      val post = slice(1, "update_postimage")
      assert(post.count() == 5 && post.filter(col("s") === "upd").count() == 5,
        "postimages carry the NEW values")
      val ins = slice(1, "insert")
      assert(ins.count() == 5 &&
        ins.agg(min("id"), max("id")).head() ==
          org.apache.spark.sql.Row(100L, 104L),
        "fresh keys classify as inserts, not updates")
      val del = slice(2, "delete")
      assert(del.count() == 3 &&
        del.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L),
        "delete preimages are exactly the range")
      assert(feed.filter(col(TableLog.CommitVersionCol) === 3).count() == 0,
        "layout rewrite emitted row changes")
      // incremental window: only the commits after the merge
      assert(TableLog.tableChanges(spark, root, 1).count() == 3)
      feed.unpersist()
    } finally spark.conf.unset("spark.graft.tablelog.cdf")
  }

  test("change feed refuses mutations captured without CDF instead of " +
      "emitting an incomplete feed") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 20), statsCols = Seq("id"))
    TableLog.deleteRange(spark, root, "id", 0L, 2L) // capture off
    // the append-only prefix still serves
    assert(TableLog.tableChanges(spark, root, -1, toVersion = 0).count() == 20)
    val e = intercept[IllegalStateException] {
      TableLog.tableChanges(spark, root, -1).count()
    }
    assert(e.getMessage.contains("change capture"), e.getMessage)
    // restore's change set is never captured -> range including it refuses
    val root2 = freshRoot()
    TableLog.append(spark, root2, nums(0, 10))
    TableLog.append(spark, root2, nums(10, 15))
    TableLog.restore(spark, root2, 0)
    intercept[IllegalStateException] {
      TableLog.tableChanges(spark, root2, -1).count()
    }
  }

  test("CHECK constraints: add validates the snapshot, one bad row " +
      "rejects the whole batch atomically, NULL passes, drop lifts") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 10))
    // a constraint the existing data violates cannot be declared
    intercept[IllegalArgumentException] {
      TableLog.addConstraint(spark, root, "small", "id < 5")
    }
    TableLog.addConstraint(spark, root, "id_bound", "id < 1000")
    assert(TableLog.constraints(spark, root) == Map("id_bound" -> "id < 1000"))
    TableLog.append(spark, root, nums(10, 20)) // clean batch passes
    val vBefore = TableLog.versions(spark, root).last
    // 990..994 pass, 1000..1004 violate -> WHOLE batch rejected
    val e = intercept[IllegalStateException] {
      TableLog.append(spark, root, nums(990, 1005))
    }
    assert(e.getMessage.contains("id_bound"), e.getMessage)
    assert(TableLog.versions(spark, root).last == vBefore,
      "rejected batch published a version")
    assert(TableLog.snapshot(spark, root).count() == 20,
      "rejected rows leaked into the table")
    // SQL CHECK: NULL evaluates to unknown -> passes
    TableLog.append(spark, root,
      Seq((Some(1L), "x"), (None: Option[Long], "y")).toDF("id", "s"))
    assert(TableLog.snapshot(spark, root).count() == 22)
    // drop, then the formerly-bad keys land
    TableLog.dropConstraint(spark, root, "id_bound")
    TableLog.append(spark, root, nums(2000, 2005))
    assert(TableLog.snapshot(spark, root).count() == 27)
  }

  test("mergeUpdate with an insert-only source touching no file still " +
      "inserts (stats-exact selection proves every key unmatched)") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 20), statsCols = Seq("id"))
    TableLog.mergeUpdate(spark, root, nums(1000, 1005), "id",
      cond = lit(true), set = Map("s" -> col("src_s")))
    val snap = TableLog.snapshot(spark, root)
    assert(snap.count() == 25, "inserts were dropped when touched was empty")
    assert(snap.filter(col("id") >= 1000L).count() == 5)
  }

  // ---- deletion vectors --------------------------------------------------

  private def dataFiles(root: String): Seq[String] =
    TableLog.snapshot(spark, root).inputFiles
      .filter(f => !f.contains("-dv")).sorted.toSeq

  test("deleteVector: rows vanish with ZERO data files rewritten; " +
      "pre-delete versions stay time-travelable") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 100).repartition(4))
    val before = dataFiles(root)
    val v = TableLog.deleteVector(spark, root, col("id") % 10 === 3)
    assert(v == 1)
    val snap = TableLog.snapshot(spark, root)
    assert(snap.count() == 90)
    assert(snap.filter(col("id") % 10 === 3).isEmpty,
      "vector-deleted rows still visible")
    assert(dataFiles(root) == before,
      "deleteVector must not add, remove, or rewrite any data file")
    assert(TableLog.snapshot(spark, root, 0).count() == 100,
      "pre-delete version lost rows")
  }

  test("deleteVector composes: an overlapping second delete records " +
      "only NEW rows; compact materializes and clears the vectors") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 100).repartition(4))
    TableLog.deleteVector(spark, root, col("id") % 10 === 3) // 10 rows
    TableLog.deleteVector(spark, root, col("id") < 40)       // 36 NEW rows
    assert(TableLog.snapshot(spark, root).count() == 54)
    val dvs = TableLog.state(spark, root, -1).dvs
    assert(dvs.size == 2, s"expected two active vectors, got $dvs")
    val second = spark.read.parquet(s"$root/${dvs(1)}")
    assert(second.count() == 36,
      "already-deleted rows must not be re-recorded by an overlapping delete")
    TableLog.compact(spark, root, 2)
    assert(TableLog.state(spark, root, -1).dvs.isEmpty,
      "compact must clear materialized vectors")
    val snap = TableLog.snapshot(spark, root)
    assert(snap.count() == 54 && snap.filter(col("id") < 40).isEmpty,
      "compact resurrected vector-deleted rows")
    // the vectors are now unreachable from the latest version only if
    // retention drops the declaring commits
    TableLog.vacuum(spark, root, retainFrom = 3)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(dvs.forall(d => !fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d"))),
      "vacuum must reclaim unreachable deletion-vector sidecars")
    assert(TableLog.snapshot(spark, root).count() == 54)
  }

  test("stats-pruned reads and merges on a vectored table never " +
      "resurrect deleted rows") {
    val root = freshRoot()
    TableLog.append(spark, root,
      nums(0, 100).repartitionByRange(4, col("id")), statsCols = Seq("id"))
    TableLog.deleteVector(spark, root, col("id") >= 10 && col("id") < 20)
    val r = TableLog.readRange(spark, root, "id", 0L, 29L)
    assert(r.count() == 20, "readRange resurrected vector-deleted rows")
    // merge rewrites the touched files; the rewrite must carry the DV
    val sp = spark; import sp.implicits._
    TableLog.merge(spark, root,
      Seq((5L, "upd5"), (200L, "new200")).toDF("id", "s"), "id",
      statsCols = Seq("id"))
    val snap = TableLog.snapshot(spark, root)
    assert(snap.count() == 91, s"expected 91 rows, got ${snap.count()}")
    assert(snap.filter(col("id") >= 10 && col("id") < 20).isEmpty,
      "merge rewrite resurrected vector-deleted rows")
    assert(snap.filter(col("s") === "upd5").count() == 1)
  }

  test("every pruned read on a vectored table hides deleted rows, at the " +
      "latest version and pinned before the OPTIMIZE that materialized them") {
    val root = freshRoot()
    def rows(from: Int, until: Int) = nums(from, until)
      .withColumn("k", col("id") * 2)
      .withColumn("p", when(col("id") % 2 === 0, "a").otherwise("b"))
    // one partitioned commit (pv sidecar) and one bloom commit
    TableLog.appendPartitioned(spark, root, rows(0, 100), Seq("p"),
      statsCols = Seq("id", "k"))
    TableLog.append(spark, root, rows(100, 200).repartitionByRange(4, col("id")),
      statsCols = Seq("id", "k"), bloomCols = Seq("id"))
    val deleted = (10L until 20L) ++ (150L until 160L)
    val pinned = TableLog.deleteVector(spark, root,
      col("id").between(10, 19) || col("id").between(150, 159))
    TableLog.compact(spark, root, 2, statsCols = Seq("id", "k"))
    assert(TableLog.state(spark, root, -1).dvs.isEmpty,
      "the OPTIMIZE should have materialized the vectors")
    val live = (0L until 200L).filterNot(deleted.toSet)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).toSeq.sorted
    for (v <- Seq(-1, pinned)) {
      assert(ids(TableLog.readPoint(spark, root, "id", 15L, v)).isEmpty &&
        ids(TableLog.readPoint(spark, root, "id", 155L, v)).isEmpty,
        s"readPoint at $v resurrected a vector-deleted row")
      assert(ids(TableLog.readPoint(spark, root, "id", 25L, v)) == Seq(25L))
      assert(ids(TableLog.readRange(spark, root, "id", 0L, 29L, v)) ==
        live.filter(_ <= 29), s"readRange at $v")
      assert(ids(TableLog.readBox(spark, root, "id", 140L, 170L,
        "k", 0L, 330L, v)) == live.filter(i => i >= 140 && i <= 165),
        s"readBox at $v")
      assert(ids(TableLog.readPartition(spark, root, "p", "a", v)) ==
        live.filter(_ % 2 == 0), s"readPartition at $v")
    }
  }

  test("a latest-version pruned read racing deleteVector → OPTIMIZE " +
      "cycles always sees one version's files with that version's vectors") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 200).repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    val order = (0 until 6).map(i => 7L + 31L * i) // one row per cycle
    @volatile var done = 0                           // cycles committed
    @volatile var writing = true
    @volatile var failed: Throwable = null
    val writer = new Thread(() => try order.foreach { id =>
      TableLog.deleteVector(spark, root, col("id") === id)
      done += 1
      TableLog.compact(spark, root, 4, statsCols = Seq("id"))
    } catch { case e: Throwable => failed = e } finally writing = false)
    writer.start()
    var reads = 0
    try while (writing || reads == 0) {
      val before = done
      val got = TableLog.readRange(spark, root, "id", 0L, 199L)
        .select("id").collect().map(_.getLong(0)).toSet
      val missing = (0L until 200L).filterNot(got).toSet
      // a version's answer: the first j cycles' rows gone, j >= the
      // cycles committed before the read began
      assert(missing.size >= before &&
        missing == order.take(missing.size).toSet && got.size + missing.size == 200,
        s"read after $before cycles is missing ${missing.toSeq.sorted}")
      reads += 1
    } finally writer.join()
    if (failed != null) throw failed
    assert(reads > 1, s"only $reads reads overlapped the writer")
    assert(TableLog.snapshot(spark, root).count() == 200 - order.size)
  }

  test("the declared schema resolves through a checkpoint whose tail " +
      "records none") {
    val root = freshRoot()
    spark.conf.set("spark.graft.tablelog.checkpointInterval", "2")
    try {
      TableLog.append(spark, root, nums(0, 20))              // v0
      TableLog.addColumn(spark, root, "extra",
        org.apache.spark.sql.types.LongType)                 // v1
      TableLog.deleteVector(spark, root, col("id") < 5)      // v2, ckpt
      TableLog.addConstraint(spark, root, "pos", "id >= 0")  // v3: no schema
      assert(TableLog.replayState(spark, root, -1, useCheckpoint = true)._2
        .contains(2), "expected the replay to start from the v2 checkpoint")
      assert(TableLog.state(spark, root, -1).schema.map(_.fieldNames.toSeq)
        .contains(Seq("id", "s", "extra")))
      assert(TableLog.tableSchema(spark, root, 0).map(_.fieldNames.toSeq)
        .contains(Seq("id", "s")))
      val snap = TableLog.snapshot(spark, root)
      assert(snap.columns.toSeq == Seq("id", "s", "extra") && snap.count() == 15)
    } finally spark.conf.unset("spark.graft.tablelog.checkpointInterval")
  }

  test("restore across a deleteVector resurrects its rows; restore " +
      "forward re-applies the vector") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 50))           // v0
    TableLog.deleteVector(spark, root, col("id") < 10)  // v1
    assert(TableLog.snapshot(spark, root).count() == 40)
    TableLog.restore(spark, root, 0)                    // v2: undo the delete
    assert(TableLog.snapshot(spark, root).count() == 50,
      "restore did not resurrect vector-deleted rows")
    TableLog.restore(spark, root, 1)                    // v3: redo it
    assert(TableLog.snapshot(spark, root).count() == 40,
      "restore did not re-apply the vector")
  }

  test("a CHECK constraint declared before a checkpoint is listed and " +
      "enforced after it; a checkpoint without constraints is ignored") {
    val root = freshRoot()
    spark.conf.set("spark.graft.tablelog.checkpointInterval", "2")
    try {
      TableLog.append(spark, root, nums(0, 10))                     // v0
      TableLog.addConstraint(spark, root, "id_bound", "id < 1000")  // v1
      TableLog.append(spark, root, nums(10, 20))                    // v2, ckpt
      TableLog.append(spark, root, nums(20, 30))                    // v3
      def base = TableLog.replayState(spark, root, -1, useCheckpoint = true)._2
      assert(base.contains(2), "expected the replay to start from the v2 checkpoint")
      assert(TableLog.constraints(spark, root) == Map("id_bound" -> "id < 1000"))
      val e = intercept[IllegalStateException] {
        TableLog.append(spark, root, nums(995, 1005))
      }
      assert(e.getMessage.contains("id_bound"), e.getMessage)
      assert(TableLog.snapshot(spark, root).count() == 30)
      // the same checkpoint as written before constraints rode it
      val ckpt = new org.apache.hadoop.fs.Path(s"$root/_log/ckpt-v00002.tsv")
      val f = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val body = scala.io.Source.fromFile(ckpt.toString).mkString
      assert(body.contains("#check\tid_bound\t"), body)
      val out = f.create(ckpt, true)
      try out.write(body.linesIterator.filterNot(_.startsWith("#check"))
        .mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
      assert(base.isEmpty, "a checkpoint without the constraints marker was used")
      assert(TableLog.constraints(spark, root) == Map("id_bound" -> "id < 1000"))
    } finally spark.conf.unset("spark.graft.tablelog.checkpointInterval")
  }

  test("deleteVector rides the CDF and the checkpoint") {
    val root = freshRoot()
    spark.conf.set("spark.graft.tablelog.cdf", "true")
    spark.conf.set("spark.graft.tablelog.checkpointInterval", "2")
    try {
      TableLog.append(spark, root, nums(0, 30))
      TableLog.deleteVector(spark, root, col("id") >= 25)
      val feed = TableLog.tableChanges(spark, root, 0)
      assert(feed.filter(col(TableLog.ChangeTypeCol) === "delete")
        .count() == 5, "CDF missed the vector delete")
      TableLog.append(spark, root, nums(100, 110)) // v2 → checkpoint lands
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ckpt = s"$root/_log/ckpt-v00002.tsv"
      assert(fs.exists(new org.apache.hadoop.fs.Path(ckpt)),
        "expected a checkpoint at v2")
      val body = scala.io.Source.fromFile(ckpt).mkString
      assert(body.contains("#dv\t"),
        "checkpoint must carry the active deletion vectors")
      assert(TableLog.snapshot(spark, root).count() == 35,
        "checkpoint-replayed snapshot lost the vector state")
    } finally {
      spark.conf.unset("spark.graft.tablelog.cdf")
      spark.conf.unset("spark.graft.tablelog.checkpointInterval")
    }
  }

  // ---- bloom file skipping -----------------------------------------------

  test("bloom sidecar: point lookups on a hash-distributed key prune " +
      "files min/max stats cannot; no false negatives; advisory when absent") {
    val root = freshRoot()
    // hash distribution: every file spans ~the whole key range, so the
    // range sidecar prunes nothing — exactly the bloom's territory
    TableLog.append(spark, root, nums(0, 4000).repartition(8, col("id")),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val hit = TableLog.readPoint(spark, root, "id", 1234L)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    val opened = hit.inputFiles.count(f => !f.contains("-dv"))
    assert(opened < 8, s"bloom pruned nothing (opened $opened of 8)")
    assert(TableLog.readPoint(spark, root, "id", 99999999L).isEmpty)
    // no false negatives, ever: every present key must be found
    (0L until 4000L by 397L).foreach { k =>
      assert(TableLog.readPoint(spark, root, "id", k).count() == 1,
        s"bloom false negative for key $k")
    }
    // sidecar removed → every file reads, answer identical
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$root/data/*/_bloom.tsv"))
    assert(sidecars.nonEmpty, "expected a bloom sidecar")
    sidecars.foreach(st => fs.delete(st.getPath, false))
    val again = TableLog.readPoint(spark, root, "id", 1234L)
    assert(again.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    assert(again.inputFiles.count(f => !f.contains("-dv")) == 8,
      "without a sidecar every file must be read")
  }

  // ---- shallow clone -----------------------------------------------------

  test("shallowClone copies zero data bytes, carries stats + DVs, and " +
      "the two tables evolve independently") {
    val src = freshRoot()
    val dst = freshRoot()
    TableLog.append(spark, src,
      nums(0, 100).repartitionByRange(4, col("id")), statsCols = Seq("id"))
    TableLog.deleteVector(spark, src, col("id") >= 90)
    assert(TableLog.shallowClone(spark, src, dst) == 0)
    // metadata-only: the clone's data dir holds just the stats sidecar
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val copied = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dst/data"))
    assert(copied.forall(_.getPath.getName.startsWith("clone-")),
      "shallowClone must not copy data files")
    // content identical, including the carried deletion vector
    assert(TableLog.snapshot(spark, dst).count() == 90)
    assert(TableLog.snapshot(spark, dst).filter(col("id") >= 90).isEmpty,
      "clone lost the source's deletion vector")
    // carried stats prune: a narrow range read opens a strict subset
    val opened = TableLog.readRange(spark, dst, "id", 0L, 10L)
      .inputFiles.filter(f => !f.contains("-dv")).length
    assert(opened < 4, s"clone stats must prune range reads, opened $opened")
    // divergence: mutations on one side never reach the other
    val sp = spark; import sp.implicits._
    TableLog.append(spark, dst, Seq((1000L, "c")).toDF("id", "s"))
    TableLog.deleteVector(spark, dst, col("id") < 10)
    TableLog.append(spark, src, Seq((2000L, "s")).toDF("id", "s"))
    assert(TableLog.snapshot(spark, dst).count() == 81,  // 90 + 1 - 10
      "clone content wrong after divergence")
    assert(TableLog.snapshot(spark, src).count() == 91,  // 90 + 1
      "source saw the clone's mutations")
    assert(TableLog.snapshot(spark, src).filter(col("id") < 10).count() == 10,
      "the clone's deleteVector leaked into the source")
  }

  test("vacuum on a clone never reclaims the source's files; compact " +
      "severs the dependency") {
    val src = freshRoot()
    val dst = freshRoot()
    TableLog.append(spark, src, nums(0, 50))
    TableLog.shallowClone(spark, src, dst)
    // delist every cloned file, then vacuum aggressively
    TableLog.overwrite(spark, dst, nums(0, 5))
    TableLog.vacuum(spark, dst, retainFrom = 1)
    assert(TableLog.snapshot(spark, src).count() == 50,
      "clone vacuum deleted source files")
    // a compacted clone survives source vacuum
    val dst2 = freshRoot()
    TableLog.shallowClone(spark, src, dst2)
    TableLog.compact(spark, dst2, 1)
    TableLog.overwrite(spark, src, nums(0, 1))
    TableLog.vacuum(spark, src, retainFrom = 2)
    assert(TableLog.snapshot(spark, dst2).count() == 50,
      "compacted clone must be independent of source vacuum")
  }

  test("a rewrite whose DV expectation went stale aborts instead of " +
      "losing the racing delete") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 50))
    val staleDvs = TableLog.state(spark, root, -1).dvs // empty
    val snap = TableLog.snapshot(spark, root)        // pre-delete rows
    TableLog.deleteVector(spark, root, col("id") < 5) // races in between
    intercept[java.util.ConcurrentModificationException] {
      TableLog.rewrite(spark, root, expectDvs = Some(staleDvs))(dir =>
        snap.coalesce(1).write.parquet(dir))
    }
    assert(TableLog.snapshot(spark, root).count() == 45,
      "the racing delete must survive the aborted rewrite")
  }

  test("renameColumn: zero-rewrite rename spans file generations; old name rejected; time travel keeps it") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 5), statsCols = Seq("id"))
    val filesBefore = TableLog.snapshot(spark, root).inputFiles.sorted.toSeq
    TableLog.renameColumn(spark, root, "s", "label")
    // no data moved
    assert(TableLog.snapshot(spark, root).inputFiles.sorted.toSeq
      == filesBefore, "rename rewrote data files")
    // post-rename append under the NEW name: both generations read
    // back under the declared name, coalesced exactly
    TableLog.append(spark, root,
      Seq((100L, "new100")).toDF("id", "label"))
    val snap = TableLog.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("id", "label"))
    val m = snap.as[(Long, String)].collect().toMap
    assert(m(0L) == "row0" && m(100L) == "new100" && m.size == 6)
    // a write under the PREVIOUS name forks the rename — rejected
    val err = intercept[IllegalStateException] {
      TableLog.append(spark, root, Seq((200L, "x")).toDF("id", "s"))
    }
    assert(err.getMessage.contains("renamed to 'label'"), err.getMessage)
    // chained rename keeps the whole mapping
    TableLog.renameColumn(spark, root, "label", "tag")
    val m2 = TableLog.snapshot(spark, root).as[(Long, String)].collect().toMap
    assert(m2(0L) == "row0" && m2(100L) == "new100")
    // time travel to pre-rename presents the old declared schema
    assert(TableLog.snapshot(spark, root, 0).columns.toSeq == Seq("id", "s"))
    // the streaming source reads through the mapping too
    assert(TableLog.changesSince(spark, root, -1).count() == 6)
  }

  test("model fuzz: random mutation sequences match an in-memory reference model at every step") {
    val sp = spark; import sp.implicits._
    // the strongest correctness artifact for the mutation algebra:
    // drive the log with random interleavings of every row-mutating
    // op and assert, AFTER EACH COMMIT, that the snapshot equals a
    // trivially-correct Map model — any lost update, resurrected
    // delete, DV/file-selection slip, or merge clause bleeding shows
    // up at the exact step that caused it
    for (seed <- Seq(7, 41)) {
      val rnd = new scala.util.Random(seed)
      val root = freshRoot()
      var model = Map.empty[Long, String]
      var nextKey = 0L
      def df(rows: Seq[(Long, String)]) = rows.toDF("id", "s")
      // seed table
      val init = (0 until 30).map(i => (i.toLong, s"v$seed-$i"))
      nextKey = 30
      TableLog.append(spark, root, df(init), statsCols = Seq("id"))
      model = init.toMap
      for (step <- 1 to 14) {
        rnd.nextInt(6) match {
          case 0 => // append fresh keys
            val rows = (0 until 1 + rnd.nextInt(8))
              .map(i => (nextKey + i, s"a$step-$i"))
            nextKey += rows.size
            TableLog.append(spark, root, df(rows), statsCols = Seq("id"))
            model ++= rows
          case 1 => // range delete (only when it hits, matching require)
            val keys = model.keys.toSeq.sorted
            if (keys.nonEmpty) {
              val lo = keys(rnd.nextInt(keys.size))
              val hi = lo + rnd.nextInt(10)
              TableLog.deleteRange(spark, root, "id", lo, hi)
              model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            }
          case 2 => // deletion vector by modulus predicate
            val m = 3 + rnd.nextInt(5); val r = rnd.nextInt(m)
            TableLog.deleteVector(spark, root, col("id") % m === r)
            model = model.filterNot { case (k, _) => k % m == r }
          case 3 => // replace-whole-row merge: update some, insert some
            val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(6))
              .map(k => (k, s"m$step-$k"))
            val ins = (0 until rnd.nextInt(4))
              .map(i => (nextKey + i, s"mi$step-$i"))
            nextKey += ins.size
            val src = upd ++ ins
            if (src.nonEmpty) {
              TableLog.merge(spark, root, df(src), "id",
                statsCols = Seq("id"))
              model ++= src
            }
          case 4 => // three-clause merge: cond update + BY SOURCE delete
            val keep = rnd.shuffle(model.keys.toSeq)
              .take(model.size / 2 + 1).toSet
            val src = keep.toSeq.sorted.map(k => (k, s"f$step-$k"))
            val dm = 2 + rnd.nextInt(4); val dr = rnd.nextInt(dm)
            if (src.nonEmpty) {
              TableLog.mergeFull(spark, root, df(src), "id",
                cond = col("src_s") =!= col("s"),
                set = Map("s" -> col("src_s")),
                bySourceCond = col("id") % dm === dr,
                statsCols = Seq("id"))
              model = model.flatMap { case (k, v) =>
                if (keep.contains(k)) Some(k -> s"f$step-$k")
                else if (k % dm == dr) None
                else Some(k -> v)
              }
            }
          case 5 => // layout reorganization: answers must not move
            TableLog.compact(spark, root, 1 + rnd.nextInt(3),
              statsCols = Seq("id"))
        }
        val got = TableLog.snapshot(spark, root)
          .as[(Long, String)].collect().toMap
        assert(got == model,
          s"seed=$seed step=$step diverged: " +
            s"missing=${(model.keySet -- got.keySet).toSeq.sorted.take(5)} " +
            s"extra=${(got.keySet -- model.keySet).toSeq.sorted.take(5)} " +
            s"changed=${model.collect { case (k, v) if got.get(k).exists(_ != v) => k }.take(5)}")
      }
    }
  }

  test("update rewrites only the files containing matches; CDF emits " +
      "pre/postimage pairs; a SET on the predicate column still reports") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val df = (0 until 800).map(i => (i.toLong, i % 7)).toDF("id", "v")
      .repartitionByRange(8, col("id"))
    TableLog.append(spark, root, df, statsCols = Seq("id"))
    val before = TableLog.snapshot(spark, root).inputFiles.toSet
    assert(before.size == 8)
    TableLog.update(spark, root, col("id") < 100,
      Map("v" -> (col("v") + 1000)), Seq("id"))
    val after = TableLog.snapshot(spark, root)
    // only the one file whose range covers id<100 was rewritten
    val surviving = after.inputFiles.toSet
    assert((before & surviving).size == 7,
      s"expected 7 untouched files, ${(before & surviving).size} survive")
    assert(after.filter(col("id") < 100).agg(min("v"), max("v"))
      .head.toSeq == Seq(1000, 1006))
    assert(after.filter(col("id") >= 100 && col("v") >= 1000).count() == 0,
      "update leaked outside the predicate")
    assert(after.count() == 800)
    // SET that rewrites the predicate's own column: postimages must
    // still be reported (hit flag materializes before SET)
    spark.conf.set("spark.graft.tablelog.cdf", "true")
    try {
      val v0 = TableLog.update(spark, root, col("v") === 1003L,
        Map("v" -> lit(-1)), Seq("id"))
      val feed = TableLog.tableChanges(spark, root, v0 - 1)
        .select(col("id"), col("v"), col("_change_type"))
        .as[(Long, Int, String)].collect()
      val pre = feed.filter(_._3 == "update_preimage")
      val post = feed.filter(_._3 == "update_postimage")
      assert(pre.nonEmpty && pre.forall(_._2 == 1003))
      assert(post.map(_._1).sorted.toSeq == pre.map(_._1).sorted.toSeq)
      assert(post.forall(_._2 == -1),
        "postimage lost when SET rewrote the predicate column")
    } finally spark.conf.unset("spark.graft.tablelog.cdf")
    // zero-match UPDATE is a successful no-op (SQL semantics): the
    // version is unchanged and no commit lands
    val vBefore = TableLog.versions(spark, root).last
    val vNoop = TableLog.update(spark, root, col("id") === -5L,
      Map("v" -> lit(0)))
    assert(vNoop == vBefore, "no-match UPDATE must not commit")
  }

  test("concurrent CAS storm fuzz: 100 rounds of two writers racing " +
      "append/mergeFull/compact/deleteVector/update stay outcome-serializable") {
    val sp = spark; import sp.implicits._
    // invariant per round: every op either returns a version (took
    // full effect) or aborts with ConcurrentModificationException
    // (took NO effect), and the post-round snapshot equals applying
    // the SUCCESSFUL ops in one of their serial orders to the
    // pre-round state. (Version order is NOT asserted: a merge that
    // read before a racing append committed is outcome-equivalent to
    // running BEFORE it — the WriteSerializable posture; what can
    // never happen is a half-applied op, a lost commit, or a state
    // matching no serial order.)
    val root = freshRoot()
    val rnd = new scala.util.Random(20260815L)
    var nextKey = new java.util.concurrent.atomic.AtomicLong(40L)
    def df(rows: Seq[(Long, String)]) = rows.toDF("id", "s")
    val init = (0 until 40).map(i => (i.toLong, s"i$i"))
    TableLog.append(spark, root, df(init))
    var model = init.toMap
    type Op = (() => Unit, Map[Long, String] => Map[Long, String], String)
    def mkOp(step: Int): Op = rnd.nextInt(5) match {
      case 0 =>
        val rows = (0 until 1 + rnd.nextInt(4))
          .map(i => (nextKey.getAndIncrement(), s"a$step-$i"))
        (() => { TableLog.append(spark, root, df(rows)); () },
          m => m ++ rows, s"append(${rows.map(_._1).mkString(",")})")
      case 1 =>
        val hi = nextKey.get()
        val src = (0 until 1 + rnd.nextInt(5))
          .map(_ => rnd.nextLong(hi)).distinct.sorted
          .map(k => (k, s"m$step-$k"))
        val srcKeys = src.map(_._1).toSet
        val dm = 2 + rnd.nextInt(4); val dr = rnd.nextInt(dm)
        (() => { TableLog.mergeFull(spark, root, df(src), "id",
            cond = col("src_s") =!= col("s"),
            set = Map("s" -> col("src_s")),
            bySourceCond = col("id") % dm === dr); () },
          m => m.flatMap { case (k, v) =>
            if (srcKeys.contains(k)) Some(k -> s"m$step-$k")
            else if (k % dm == dr) None
            else Some(k -> v)
          } ++ src.filter { case (k, _) => !m.contains(k) },
          s"mergeFull(src=${src.map(_._1).mkString(",")},del%$dm=$dr)")
      case 2 =>
        (() => { TableLog.compact(spark, root, 1 + rnd.nextInt(2)); () },
          m => m, "compact")
      case 3 =>
        val dm = 3 + rnd.nextInt(5); val dr = rnd.nextInt(dm)
        (() => { TableLog.deleteVector(spark, root, col("id") % dm === dr); () },
          m => m.filterNot { case (k, _) => k % dm == dr },
          s"deleteVector(%$dm=$dr)")
      case 4 =>
        val um = 2 + rnd.nextInt(4); val ur = rnd.nextInt(um)
        (() => { TableLog.update(spark, root, col("id") % um === ur,
            Map("s" -> concat(lit(s"u$step-"), col("id")))); () },
          m => m.map { case (k, v) =>
            k -> (if (k % um == ur) s"u$step-$k" else v) },
          s"update(%$um=$ur)")
    }
    var casAborts = 0; var successes = 0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // outcome classes: Ok (committed, full effect — including the
    // zero-match deleteVector/update no-ops, whose model update is
    // the identity) and Cme (CAS abort, NO effect)
    def outcome(f: Future[Unit]): Char =
      try { Await.result(f, 300.seconds); 'O' }
      catch {
        case e: Throwable =>
          val c = e match {
            case ee: java.util.concurrent.ExecutionException => ee.getCause
            case other => other
          }
          c match {
            case _: java.util.ConcurrentModificationException => 'C'
            case other => throw other
          }
      }
    for (round <- 1 to 100) {
      val a = mkOp(round * 2); val b = mkOp(round * 2 + 1)
      val fa = Future(a._1()); val fb = Future(b._1())
      val (oA, oB) = (outcome(fa), outcome(fb))
      successes += Seq(oA, oB).count(_ == 'O')
      casAborts += Seq(oA, oB).count(_ == 'C')
      val applied = Seq(a, b).zip(Seq(oA, oB))
        .collect { case (op, 'O') => op._2 }
      val candidates: Seq[Map[Long, String]] =
        if (applied.isEmpty) Seq(model)
        else applied.permutations.map(_.foldLeft(model)((m, f) => f(m))).toSeq
      val got = TableLog.snapshot(spark, root)
        .as[(Long, String)].collect().toMap
      assert(candidates.exists(_ == got),
        s"round $round (oA=$oA oB=$oB; a=${a._3}, b=${b._3}): snapshot " +
          s"matches NO serial order of the successful ops; " +
          s"|got|=${got.size}, candidate sizes=${candidates.map(_.size)}")
      model = got
      // a CAS abort requires a mover: someone must have committed
      assert(oA == 'O' || oB == 'O' || (oA != 'C' && oB != 'C'),
        s"round $round: a CAS abort with no committed mover")
    }
    info(s"storm: $successes commits, $casAborts CAS aborts " +
      "over 100 rounds")
    assert(successes >= 100,
      "two writers over 100 rounds must land at least 100 commits")
  }

  test("schema evolution races: concurrent addColumns both survive; " +
      "a widen racing an addColumn keeps the column AND the wide type") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // both writers derive their target schema BEFORE either commits
    // (CyclicBarrier) — the CAS loser's retry must fold the winner's
    // column into its re-derived record instead of erasing it
    for (r <- 1 to 6) {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def run(name: String): Thread = {
        val t = new Thread(() => {
          barrier.await()
          TableLog.addColumn(spark, root, name, IntegerType)
        })
        t.start(); t
      }
      val (ta, tb) = (run(s"a$r"), run(s"b$r"))
      ta.join(60000); tb.join(60000)
      val names = TableLog.tableSchema(spark, root).get.fieldNames.toSet
      assert(names.contains(s"a$r") && names.contains(s"b$r"),
        s"round $r: a racing addColumn was erased — schema has $names")
    }
    // widen vs add: both effects must land regardless of CAS order
    val root2 = freshRoot()
    TableLog.append(spark, root2, Seq((1, "a")).toDF("n", "s"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val tw = new Thread(() => {
      barrier.await(); TableLog.widenColumn(spark, root2, "n", LongType)
    })
    val tc = new Thread(() => {
      barrier.await(); TableLog.addColumn(spark, root2, "extra", StringType)
    })
    tw.start(); tc.start(); tw.join(60000); tc.join(60000)
    val sch = TableLog.tableSchema(spark, root2).get
    assert(sch.fieldNames.contains("extra"),
      s"addColumn erased by racing widen: ${sch.fieldNames.toSeq}")
    assert(sch("n").dataType == LongType,
      s"widen erased by racing addColumn: ${sch("n").dataType}")
  }

  test("deterministic CAS window: two writers held INSIDE the publish " +
      "for the same version — exactly one wins, no commit is erased") {
    // The r10 probabilistic CyclicBarrier test needed many runs to open
    // the exists+rename TOCTOU window. This one opens it 100% of the
    // time: CasFs.interceptor holds BOTH writers between their version
    // derivation and the physical publish of the SAME v-file, then
    // releases them together. On the old exists()+rename code both
    // passed the guard and the second rename overwrote the first
    // (RawLocalFileSystem rename overwrites); with link(2) publish the
    // kernel serializes them — the loser retries at the next version.
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
    try {
      for (r <- 1 to 20) {
        // next version both writers will derive: the log holds the
        // initial append + 2 commits per completed round
        val contested = f"v${2 * r - 1}%05d.json"
        val gate = new java.util.concurrent.CyclicBarrier(2)
        graft.sources.CasFs.interceptor = Some { target =>
          if (target.getName == contested)
            gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        def run(name: String): Thread = {
          val t = new Thread(() =>
            TableLog.addColumn(spark, root, name, IntegerType))
          t.start(); t
        }
        val (ta, tb) = (run(s"a$r"), run(s"b$r"))
        ta.join(60000); tb.join(60000)
        graft.sources.CasFs.interceptor = None
        val names = TableLog.tableSchema(spark, root).get.fieldNames.toSet
        assert(names.contains(s"a$r") && names.contains(s"b$r"),
          s"round $r: a forced-collision addColumn was erased — $names")
        // versions must be gapless: winner at r's contested slot,
        // loser retried at the next — never an overwrite
        assert(TableLog.versions(spark, root).size == 1 + 2 * r,
          s"round $r: version count mismatch (an overwrite ate a commit)")
      }
    } finally graft.sources.CasFs.interceptor = None
  }

  test("a CAS retry re-reads only the NEW log entries: directory " +
      "listings stay O(1) per publish regardless of retries") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    for (i <- 0 until 8)
      TableLog.append(spark, root, Seq((i.toLong, "x")).toDF("id", "s"))
    // hold the victim INSIDE its first CAS window while three
    // competitor commits land — its retry must catch up by reading
    // the three new entries, never by re-listing the directory
    val victim = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val inWindow = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.sources.CasFs.interceptor = Some { _ =>
      if ((Thread.currentThread() eq victim.get()) &&
          fired.compareAndSet(false, true)) {
        inWindow.countDown()
        resume.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }
    try {
      val t = new Thread(() =>
        TableLog.append(spark, root, Seq((100L, "v")).toDF("id", "s")))
      victim.set(t); t.start()
      assert(inWindow.await(30, java.util.concurrent.TimeUnit.SECONDS))
      for (i <- 0 until 3)
        TableLog.append(spark, root,
          Seq((200L + i, "c")).toDF("id", "s"))
      resume.countDown()
      t.join(60000)
      val (r, listings, attempts) = TableLog.lastPublishFootprint
      assert(r == root)
      assert(attempts >= 2,
        s"victim never lost its CAS — the window did not open ($attempts)")
      assert(listings <= 2,
        s"a retrying publish re-listed the log directory: $listings " +
          s"listings over $attempts attempts")
      assert(TableLog.snapshot(spark, root).count() == 12,
        "a commit was lost during the forced retry")
    } finally graft.sources.CasFs.interceptor = None
  }

  test("streaming initial listing repairs a below-head miss: a raced " +
      "readdir that caught v1 but missed v0 is exists-probed from the " +
      "source's startExclusive anchor") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 5))   // v0
    TableLog.append(spark, root, nums(5, 10))  // v1
    TableLog.append(spark, root, nums(10, 15)) // v2
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the race: the first full listing enumerated past v0's slot
    // before v0 landed, yet caught v1/v2 — the cached `known` would
    // skip v0 forever without the floor-anchored repair
    assert(TableLog.repairBelowHead(f, root, Vector(1, 2), -1)
      == Vector(0, 1, 2), "below-head miss must be repaired")
    // startExclusive=0 means v0 is already consumed by the
    // checkpoint: nothing below head is probed (idle-path O(0))
    assert(TableLog.repairBelowHead(f, root, Vector(1, 2), 0)
      == Vector(1, 2), "repair must not probe below the anchor")
    // clean listing: head == floor+1, repair is a no-op
    assert(TableLog.repairBelowHead(f, root, Vector(0, 1, 2), -1)
      == Vector(0, 1, 2))
    assert(TableLog.repairBelowHead(f, root, Vector.empty, -1).isEmpty)
  }

  test("no-hardlink fallback dir lock: lock file is created beside the " +
      "target, survives the publish (never unlinked), and the lock is " +
      "held for exactly the body's window") {
    import graft.sources.CasFs
    val dir = Files.createTempDirectory("graft_caslock")
    val dst = dir.resolve("v3.json")
    val lockFile = dir.resolve(".graft-cas.lock")
    var ran = false
    assert(CasFs.withDirLock(dst) {
      ran = true
      // while the body runs, the OS lock is held by THIS process: a
      // tryLock from a second channel in the same JVM sees overlap
      val ch2 = java.nio.channels.FileChannel.open(lockFile,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        intercept[java.nio.channels.OverlappingFileLockException] {
          ch2.tryLock()
        }
      } finally ch2.close()
      true
    })
    assert(ran)
    assert(Files.exists(lockFile),
      "lock file must never be unlinked — see CasFs.withDirLock scaladoc")
    // after the window the lock is free again (release happened)
    val ch3 = java.nio.channels.FileChannel.open(lockFile,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val l = ch3.tryLock()
      assert(l != null, "lock must be released after the publish window")
      l.release()
    } finally ch3.close()
    // false propagates (a lost CAS in the fallback path)
    assert(!CasFs.withDirLock(dst) { false })
  }

  test("dir lock excludes a REAL second process: withDirLock blocks " +
      "until a foreign fcntl holder releases (skips without python3)") {
    import graft.sources.CasFs
    val py = Seq("python3", "python").find { p =>
      try new ProcessBuilder(p, "-c", "import fcntl").start().waitFor() == 0
      catch { case _: Throwable => false }
    }.getOrElse(cancel("no python3 with fcntl on this machine"))
    val dir = Files.createTempDirectory("graft_casxproc")
    val dst = dir.resolve("v7.json")
    val lockFile = dir.resolve(".graft-cas.lock")
    // a second PROCESS takes the POSIX lock (python fcntl.lockf and
    // Java FileChannel.lock share the fcntl advisory-lock namespace),
    // holds it ~1.2 s, then releases
    val child = new ProcessBuilder(py, "-c",
      """import fcntl, sys, time
        |f = open(sys.argv[1], 'w')
        |fcntl.lockf(f, fcntl.LOCK_EX)
        |print('LOCKED', flush=True)
        |time.sleep(1.2)
        |fcntl.lockf(f, fcntl.LOCK_UN)
        |print('RELEASED', flush=True)
        |time.sleep(2)
        |""".stripMargin, lockFile.toString)
      .redirectErrorStream(true).start()
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(child.getInputStream))
    assert(rd.readLine() == "LOCKED", "child never acquired the lock")
    val t0 = System.nanoTime()
    var ran = false
    assert(CasFs.withDirLock(dst) { ran = true; true })
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(ran)
    // the parent must have BLOCKED until the child's release — if the
    // lock were per-JVM-only theater this returns in microseconds
    assert(waitedMs > 800,
      f"withDirLock returned after $waitedMs%.0f ms while a foreign " +
        "process held the lock — cross-process exclusion is broken")
    child.destroy()
  }

  test("vacuum contract: retained snapshots survive a concurrent " +
      "vacuum; pre-retention snapshots fail loudly, never partially") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 40))            // v0
    TableLog.overwrite(spark, root, nums(100, 160))      // v1 delists v0
    TableLog.append(spark, root, nums(160, 170))         // v2
    val pre = TableLog.snapshot(spark, root, 0)  // below retention
    val post = TableLog.snapshot(spark, root, 1) // at retention floor
    val reclaimed = TableLog.vacuum(spark, root, retainFrom = 1)
    assert(reclaimed > 0, "vacuum reclaimed nothing — test is vacuous")
    // snapshots >= retainFrom: file lists were resolved eagerly and
    // every listed file is reachable from a retained version
    assert(post.count() == 60, "retained snapshot broken by vacuum")
    assert(TableLog.snapshot(spark, root).count() == 70)
    // snapshot < retainFrom: fails LOUDLY (FileNotFound), never a
    // silent partial result
    val err = intercept[Exception] { pre.count() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(e =>
      e.isInstanceOf[java.io.FileNotFoundException] ||
        e.getMessage != null && e.getMessage.contains("FileNotFound") ||
        e.getMessage != null && e.getMessage.contains("does not exist")),
      s"pre-retention read must fail file-not-found, got: $err")
  }

  test("rename mapping holds on EVERY path: range/point reads, deleteRange, deleteVector, merge; constrained columns refuse") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 10), statsCols = Seq("id"))
    TableLog.renameColumn(spark, root, "s", "label")
    TableLog.append(spark, root, Seq((100L, "new")).toDF("id", "label"),
      statsCols = Seq("id"))
    // pruned reads must surface pre-rename rows under the new name
    val ranged = TableLog.readRange(spark, root, "id", 0, 5)
      .as[(Long, String)].collect().toMap
    assert(ranged == (0 to 5).map(i => i.toLong -> s"row$i").toMap,
      s"readRange lost pre-rename rows through the rename: $ranged")
    // deleteVector predicate on the DECLARED name must hit old files
    TableLog.deleteVector(spark, root, col("label") === "row3")
    assert(!TableLog.snapshot(spark, root).as[(Long, String)]
      .collect().toMap.contains(3L), "deleteVector missed a pre-rename row")
    // deleteRange keeps NULL-free semantics across generations
    TableLog.deleteRange(spark, root, "id", 4L, 5L)
    val after = TableLog.snapshot(spark, root).as[(Long, String)]
      .collect().toMap
    assert(!after.contains(4L) && !after.contains(5L) && after.contains(6L))
    // merge on the renamed table: replaces a PRE-rename row cleanly
    TableLog.merge(spark, root, Seq((6L, "upd6")).toDF("id", "label"),
      "id", statsCols = Seq("id"))
    assert(TableLog.snapshot(spark, root).as[(Long, String)]
      .collect().toMap.apply(6L) == "upd6")
    // a CHECK-constrained column refuses rename AND drop
    TableLog.addConstraint(spark, root, "lbl_nonempty", "label <> ''")
    val e1 = intercept[IllegalArgumentException] {
      TableLog.renameColumn(spark, root, "label", "tag")
    }
    assert(e1.getMessage.contains("lbl_nonempty"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableLog.dropColumn(spark, root, "label")
    }
    assert(e2.getMessage.contains("lbl_nonempty"), e2.getMessage)
  }

  test("mergeFull keeps NOT-MATCHED-BY-SOURCE rows whose condition is NULL (definitive-TRUE deletes only)") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, Seq(
      (1L, "a", Some(1)), (2L, "b", Some(2)), (3L, "c", None: Option[Int]))
      .toDF("id", "s", "flag"))
    // source keeps only id=1; BY SOURCE deletes flag === 1 — id=2 is
    // definitively FALSE (kept), id=3 is NULL (must ALSO be kept)
    TableLog.mergeFull(spark, root, Seq((1L, "a2", Some(1))).toDF("id", "s", "flag"),
      "id", cond = lit(true), set = Map("s" -> col("src_s")),
      bySourceCond = col("flag") === 1, insertUnmatched = false)
    val got = TableLog.snapshot(spark, root)
      .as[(Long, String, Option[Int])].collect().toSet
    assert(got == Set((1L, "a2", Some(1)), (2L, "b", Some(2)), (3L, "c", None)),
      s"NULL bySourceCond row was deleted or clause bled: $got")
  }

  test("dropColumn: nullable drop hides the column without rewrite; non-nullable drop rejects") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 5))
    val filesBefore = TableLog.snapshot(spark, root).inputFiles.sorted.toSeq
    TableLog.dropColumn(spark, root, "s")
    assert(TableLog.snapshot(spark, root).columns.toSeq == Seq("id"))
    assert(TableLog.snapshot(spark, root).inputFiles.sorted.toSeq
      == filesBefore, "drop rewrote data files")
    // time travel still shows the column
    assert(TableLog.snapshot(spark, root, 0).columns.toSeq == Seq("id", "s"))
    // a non-nullable column cannot be dropped: old rows would become
    // unrepresentable (ids written via toDF are nullable=false longs?
    // build one explicitly non-nullable to pin the gate)
    val strict = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, "a"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    val root2 = freshRoot()
    TableLog.append(spark, root2, strict)
    val err = intercept[IllegalStateException] {
      TableLog.dropColumn(spark, root2, "k")
    }
    assert(err.getMessage.contains("non-nullable"), err.getMessage)
  }

  test("mergeFull: the three clauses partition the rows exactly; the delete rides the CDF") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val prev = spark.conf.getOption("spark.graft.tablelog.cdf")
    spark.conf.set("spark.graft.tablelog.cdf", "true")
    try {
      TableLog.append(spark, root, nums(0, 10), statsCols = Seq("id"))
      // source keeps keys 0-4 (0-2 pass the update cond), drops 5-9;
      // BY SOURCE deletes only the even dropped keys; key 100 inserts
      val src = ((0 until 5).map(i =>
        (i.toLong, if (i < 3) s"upd$i" else s"row$i")) :+ (100L, "new"))
        .toDF("id", "s")
      TableLog.mergeFull(spark, root, src, "id",
        cond = col("src_s") =!= col("s"),
        set = Map("s" -> col("src_s")),
        bySourceCond = col("id") % 2 === 0)
      val snap = TableLog.snapshot(spark, root)
        .as[(Long, String)].collect().toMap
      // updated where cond, kept where matched-but-cond-false
      assert((0 until 5).forall(i =>
        snap(i.toLong) == (if (i < 3) s"upd$i" else s"row$i")))
      // not-matched-by-source: even ids (6, 8) deleted, odd (5, 7, 9) kept
      assert(!snap.contains(6L) && !snap.contains(8L))
      assert(Seq(5L, 7L, 9L).forall(snap.contains))
      assert(snap(100L) == "new")
      assert(snap.size == 9)
      // CDF: exactly the clause-touched rows, correctly tagged
      val feed = TableLog.tableChanges(spark, root, 0)
        .as[(Long, String, String, Int)].collect()
      val byType = feed.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
      assert(byType("delete") == Set(6L, 8L))
      assert(byType("update_preimage") == Set(0L, 1L, 2L))
      assert(byType("update_postimage") == Set(0L, 1L, 2L))
      assert(byType("insert") == Set(100L))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.tablelog.cdf", v)
      case None => spark.conf.unset("spark.graft.tablelog.cdf")
    }
  }

  test("hidden partitioning: readPartition answers from the pv manifest; pruned-out files are NEVER opened; unknown value = empty") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val langs = Array("en", "de", "fr")
    val rows = (0 until 300).map { i =>
      val l = if (i % 10 == 0) null else langs(i % 3)
      (i.toLong, l, i.toLong * 2)
    }
    TableLog.appendPartitioned(spark, root, rows.toDF("id", "lang", "v"),
      Seq("lang"))
    val expected = rows.filter(_._2 == "en").map(r => (r._1, r._3)).toSet
    def got() = TableLog.readPartition(spark, root, "lang", "en")
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got() == expected)
    assert(TableLog.readPartition(spark, root, "lang", "zz").count() == 0)
    // corrupt every data file the manifest EXCLUDES for 'en': a
    // correct answer after this proves the read opened only the
    // manifest-matching files — behavioral evidence, not a plan string
    val keep = TableLog.readPartitionFiles(spark, root, "lang", "en")
      .map(rel => new java.io.File(s"$root/$rel").getCanonicalPath).toSet
    val parquets = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.endsWith(".parquet") &&
        f.getPath.contains("/data/")) parquets += f
    walk(new java.io.File(root))
    val excluded = parquets.filterNot(p => keep.contains(p.getCanonicalPath))
    assert(excluded.nonEmpty, "manifest should exclude the pure de/fr/null files")
    assert(keep.nonEmpty && excluded.size < parquets.size)
    excluded.foreach(p =>
      java.nio.file.Files.write(p.toPath, "not parquet".getBytes))
    assert(got() == expected, "pruned read touched a manifest-excluded file")
  }

  test("compaction drops the pv manifest; partitioned reads fall back to always-read and stay exact") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val df = (0 until 120).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    TableLog.appendPartitioned(spark, root, df, Seq("lang"))
    TableLog.compact(spark, root, 2)
    val ids = TableLog.readPartition(spark, root, "lang", "en")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (0 until 120 by 2).map(_.toLong).toSet)
  }

  test("type widening: int→long without rewriting a file; narrow appends " +
      "upcast and the declared type stays wide") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root,
      (0 until 50).map(i => (i, s"r$i")).toDF("n", "s")) // n: int
    val filesBefore = new java.io.File(root + "/data").listFiles().length
    TableLog.widenColumn(spark, root, "n", LongType)
    assert(new java.io.File(root + "/data").listFiles().length == filesBefore,
      "widening must not rewrite or add data files")
    // wide append: values only a LONG can hold
    TableLog.append(spark, root,
      Seq((10_000_000_000L, "big")).toDF("n", "s"))
    // narrow append AFTER the widen: legal upcast, declared stays long
    TableLog.append(spark, root, Seq((7, "post")).toDF("n", "s"))
    val snap = TableLog.snapshot(spark, root)
    assert(snap.schema("n").dataType == LongType, snap.schema.simpleString)
    val agg = snap.agg(sum("n"), count(lit(1))).head()
    assert(agg.getLong(1) == 52)
    assert(agg.getLong(0) == (0 until 50).map(_.toLong).sum + 10_000_000_000L + 7)
    assert(TableLog.tableSchema(spark, root).get("n").dataType == LongType,
      "narrow append regressed the declared type")
    // time travel BEFORE the widen still reads the narrow type
    assert(TableLog.snapshot(spark, root, 0).schema("n").dataType == IntegerType)
  }

  test("widening matrix: every declared promotion reads narrow files " +
      "at the wide type; lossy changes refuse") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, DataType, Any)] = Seq(
      ("byte_short", Seq(1.toByte).toDF("v"), ShortType, 1.toShort),
      ("byte_long", Seq(2.toByte).toDF("v"), LongType, 2L),
      ("short_int", Seq(3.toShort).toDF("v"), IntegerType, 3),
      ("int_long", Seq(4).toDF("v"), LongType, 4L),
      ("float_double", Seq(1.5f).toDF("v"), DoubleType, 1.5d),
      ("int_double", Seq(6).toDF("v"), DoubleType, 6.0d),
      ("dec_widen", Seq(BigDecimal("12.34")).toDF("v")
        .select(col("v").cast(DecimalType(6, 2)).as("v")),
        DecimalType(12, 2), new java.math.BigDecimal("12.34")))
    for ((name, df, to, want) <- cases) {
      val root = freshRoot()
      TableLog.append(spark, root, df)
      TableLog.widenColumn(spark, root, "v", to)
      val out = TableLog.snapshot(spark, root)
      assert(out.schema("v").dataType == to, s"$name: ${out.schema}")
      val got = out.head().get(0)
      assert(got == want, s"$name: read $got (${got.getClass}), want $want")
    }
    // lossy / unrelated changes refuse
    val root = freshRoot()
    TableLog.append(spark, root, Seq(10L).toDF("v"))
    intercept[IllegalArgumentException](
      TableLog.widenColumn(spark, root, "v", IntegerType)) // narrowing
    intercept[IllegalArgumentException](
      TableLog.widenColumn(spark, root, "v", StringType)) // unrelated
    // a WIDE append without widenColumn is rejected (widening is an
    // explicit schema operation, not an append side effect)
    val r2 = freshRoot()
    TableLog.append(spark, r2, Seq(1).toDF("v"))
    intercept[IllegalStateException](
      TableLog.append(spark, r2, Seq(2L).toDF("v")))
  }

  test("type widening: UPDATE and DELETE work across the widen boundary " +
      "(the rewrite scan must not footer-merge narrow with wide)") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, (0 until 20).map(i => (i, s"r$i")).toDF("n", "s"))
    TableLog.widenColumn(spark, root, "n", LongType)
    TableLog.append(spark, root, Seq((6_000_000_000L, "w")).toDF("n", "s"))
    // UPDATE touches a pre-widen file AND the post-widen file
    TableLog.update(spark, root, col("n") === 3L || col("n") === 6_000_000_000L,
      Map("s" -> lit("hit")))
    val afterUpd = TableLog.snapshot(spark, root)
      .filter(col("s") === "hit").select("n").collect()
      .map(_.getLong(0)).toSet
    assert(afterUpd == Set(3L, 6_000_000_000L))
    // DELETE (vector) spans the boundary too
    TableLog.deleteVector(spark, root, col("n") === 4L)
    assert(TableLog.snapshot(spark, root).count() == 20)
  }

  test("UPDATE SET evaluates every right-hand side against the row " +
      "preimage: a two-column swap actually swaps") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root,
      Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("id", "a", "b"))
    TableLog.update(spark, root, col("id") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    val got = TableLog.snapshot(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 20L, 10L), (2L, 30L, 40L)),
      s"SET did not see the preimage: $got")
    // unknown SET names refuse instead of silently no-oping
    intercept[IllegalArgumentException] {
      TableLog.update(spark, root, col("id") === 2L, Map("nope" -> lit(1)))
    }
  }

  test("UPDATE and DELETE with zero matching rows are successful " +
      "no-ops (SQL semantics), not errors") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    val v0 = TableLog.append(spark, root, nums(0, 10))
    val vu = TableLog.update(spark, root, col("id") === 999L,
      Map("s" -> lit("x")))
    assert(vu == v0, "no-match UPDATE must not commit")
    val vd = TableLog.deleteVector(spark, root, col("id") === 999L)
    assert(vd == v0, "no-match DELETE must not commit")
    assert(TableLog.snapshot(spark, root).count() == 10)
    assert(TableLog.versions(spark, root) == Seq(0))
  }

  test("type widening: compaction across the widen boundary rewrites " +
      "narrow and wide files into one wide generation") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, (0 until 40).map(i => (i, s"r$i")).toDF("n", "s"))
    TableLog.widenColumn(spark, root, "n", LongType)
    TableLog.append(spark, root, Seq((5_000_000_000L, "w")).toDF("n", "s"))
    TableLog.compact(spark, root, 1)
    val snap = TableLog.snapshot(spark, root)
    assert(snap.schema("n").dataType == LongType)
    assert(snap.count() == 41)
    assert(snap.agg(sum("n")).head().getLong(0) ==
      (0 until 40).map(_.toLong).sum + 5_000_000_000L)
    // the compacted generation is physically wide: a fresh read of the
    // live files WITHOUT the declared schema sees bigint
    val live = TableLog.snapshot(spark, root) // post-compact snapshot
    assert(live.schema("n").dataType == LongType)
  }

  test("type widening: CDF spans the widen boundary; pre-widen change " +
      "rows surface at the wide type") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, Seq((1, "a")).toDF("n", "s"))
    TableLog.widenColumn(spark, root, "n", LongType)
    TableLog.append(spark, root, Seq((20_000_000_000L, "b")).toDF("n", "s"))
    val feed = TableLog.tableChanges(spark, root, -1)
    assert(feed.schema("n").dataType == LongType, feed.schema.simpleString)
    val rows = feed.select("n", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "insert"), (20_000_000_000L, "insert")))
  }

  test("type widening mid-stream refuses loudly; a restarted stream " +
      "adopts the wide schema") {
    import org.apache.spark.sql.types._
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, Seq((1, "a")).toDF("n", "s"))
    val q = spark.readStream.format("graft-log-stream").load(root)
      .writeStream.format("memory").queryName("widen_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("widen_stream").count() == 1)
      TableLog.widenColumn(spark, root, "n", LongType)
      TableLog.append(spark, root, Seq((9_000_000_000L, "b")).toDF("n", "s"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("widened mid-stream") ||
        Option(ex.getCause).exists(_.getMessage.contains("widened mid-stream")),
        s"wrong failure: ${ex.getMessage}")
    } finally q.stop()
    // a FRESH stream (new start schema) reads everything at the wide type
    val q2 = spark.readStream.format("graft-log-stream").load(root)
      .writeStream.format("memory").queryName("widen_stream2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val ns = spark.table("widen_stream2").select("n").collect()
        .map(_.getLong(0)).toSet
      assert(ns == Set(1L, 9_000_000_000L))
    } finally q2.stop()
  }

  test("snapshot memo: one version resolves to one frame; a re-created " +
      "root and a new commit resolve to new ones") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 30))             // v0
    TableLog.append(spark, root, nums(30, 50))            // v1
    val pinned = TableLog.snapshot(spark, root, 1)
    assert(TableLog.snapshot(spark, root, 1) eq pinned, "v1 rebuilt")
    assert(TableLog.snapshot(spark, root) eq pinned,
      "latest resolves to v1 and must share its frame")
    assert(TableLog.snapshot(spark, root, 0) ne pinned)
    TableLog.append(spark, root, nums(50, 60))            // v2
    assert(TableLog.snapshot(spark, root).count() == 60)
    assert(pinned.count() == 50)
    // the same root deleted and re-created: same versions, new rows
    val dir = new org.apache.hadoop.fs.Path(root)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    TableLog.append(spark, root, nums(100, 103))          // v0 again
    TableLog.append(spark, root, nums(103, 104))          // v1 again
    val ids = TableLog.snapshot(spark, root, 1).collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (100L until 104L), ids.mkString(","))
    assert(TableLog.snapshot(spark, root, 0).count() == 3)
  }

  test("snapshot memo keeps the vacuum contract: a memoized snapshot " +
      "below the retention floor fails loudly at scan") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 40))            // v0
    TableLog.overwrite(spark, root, nums(100, 160))      // v1 delists v0
    val pre = TableLog.snapshot(spark, root, 0)
    assert(pre.count() == 40)
    assert(TableLog.vacuum(spark, root, retainFrom = 1) > 0)
    val again = TableLog.snapshot(spark, root, 0)
    assert(again eq pre, "the log entry is unchanged, so the memo answers")
    val err = intercept[Exception] { again.count() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(e =>
      e.isInstanceOf[java.io.FileNotFoundException] ||
        e.getMessage != null && e.getMessage.contains("FileNotFound") ||
        e.getMessage != null && e.getMessage.contains("does not exist")),
      s"pre-retention read must fail file-not-found, got: $err")
    assert(TableLog.snapshot(spark, root).count() == 60)
  }

  test("snapshot memo is keyed on the replay base: deleting the " +
      "checkpoints forces a JSON replay, and log_checkpoint's rows agree") {
    val key = "spark.graft.tablelog.checkpointInterval"
    spark.conf.set(key, "2")
    try {
      val root = freshRoot()
      (0 until 5).foreach(i => TableLog.append(spark, root, nums(i * 10, i * 10 + 10)))
      val viaCkpt = TableLog.snapshot(spark, root)
      assert(TableLog.replayState(spark, root, -1, useCheckpoint = true)._2.nonEmpty)
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.globStatus(new org.apache.hadoop.fs.Path(s"$root/_log/ckpt-v*.tsv"))
        .foreach(st => assert(f.delete(st.getPath, false)))
      assert(TableLog.replayState(spark, root, -1, useCheckpoint = true)._2.isEmpty)
      val viaJson = TableLog.snapshot(spark, root)
      assert(viaJson ne viaCkpt, "replay base changed but the memo answered")
      assert(viaJson.count() == 50 && viaCkpt.count() == 50)
    } finally spark.conf.unset(key)
    // the registered query deletes its checkpoints between two reads of
    // the latest version: both must be answered, and answered alike
    val rows = SparkEntry.queries("log_checkpoint")(spark, sfDir).collect()
    def tagged(t: String) = rows.filter(_.getAs[String]("tag") == t)
      .map(r => (r.getAs[Any]("o_orderstatus"), r.getAs[Any]("n"),
        r.getAs[Any]("total_price"))).toSeq
    assert(tagged("latest").nonEmpty)
    assert(tagged("latest_log_only") == tagged("latest"))
    assert(rows.forall(_.getAs[Number]("n_ckpt").intValue > 0))
  }

  test("building a snapshot launches no Spark job, with or without " +
      "active deletion vectors") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 100).repartition(4))
    def jobsWhileBuilding(version: Int): Int = {
      val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.add(j.time)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val t0 = System.currentTimeMillis()
        TableLog.snapshot(spark, root, version)
        val t1 = System.currentTimeMillis()
        Thread.sleep(1500) // listener bus is async; let job events drain
        starts.toArray.count { case t: Long => t >= t0 && t <= t1 }
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobsWhileBuilding(0) == 0, "snapshot without DVs ran a job")
    val v1 = TableLog.deleteVector(spark, root, col("id") % 10 === 3)
    val v2 = TableLog.deleteVector(spark, root, col("id") % 10 === 4)
    assert(TableLog.state(spark, root, v2).dvs.size == 2)
    assert(jobsWhileBuilding(v1) == 0, "snapshot with one DV ran a job")
    assert(jobsWhileBuilding(v2) == 0, "snapshot with two DVs ran a job")
    val alive = TableLog.snapshot(spark, root, v2)
    assert(alive.count() == 80)
    assert(alive.filter(col("id") % 10 === 3 || col("id") % 10 === 4).isEmpty)
  }

  test("merge on a target holding a key twice replaces both rows with " +
      "the one source row") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root,
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "s").repartition(1),
      Seq("id"))
    TableLog.merge(spark, root, Seq((1L, "new"), (3L, "ins")).toDF("id", "s"),
      "id", Seq("id"))
    val got = TableLog.snapshot(spark, root).as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, "new"), (2L, "c"), (3L, "ins")), s"got $got")
  }

  test("no footer-stats pool thread outlives a commit, on the footer " +
      "path and on the scan fallback") {
    import scala.jdk.CollectionConverters._
    def poolThreads(): Seq[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-footerStats" && t.isAlive).toSeq
    val root = freshRoot()
    val df = nums(0, 40).repartition(4)
    // 4 files: the footer reads run on the pool
    TableLog.append(spark, root, df, statsCols = Seq("id"))
    assert(poolThreads().isEmpty, "pool thread alive after a footer commit")
    assert(TableLog.readRange(spark, root, "id", 5L, 5L).count() == 1)
    // a STRING stats column has no usable integer footer stats: every
    // pool read throws and the commit falls back to the scan
    TableLog.append(spark, root, df, statsCols = Seq("s"))
    assert(poolThreads().isEmpty, "pool thread alive after the fallback")
    assert(TableLog.snapshot(spark, root).count() == 80)
  }

  test("a deletion-vector read returns the same rows through the " +
      "reader-side filter (vectorized and row-based) and the shuffle " +
      "anti-join, latest and pinned around an OPTIMIZE") {
    val key = "spark.graft.tablelog.dv.broadcastMaxBytes"
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 200).repartition(4))
    TableLog.deleteVector(spark, root, col("id") % 10 === 3)
    val beforeOpt = TableLog.deleteVector(spark, root, col("id") % 7 === 0)
    val opt = TableLog.compact(spark, root, 2)
    TableLog.deleteVector(spark, root, col("id") % 5 === 1)
    def read(version: Int, budget: Option[String]): (Seq[(Long, String)], Boolean) = {
      budget.foreach(spark.conf.set(key, _))
      try {
        val df = TableLog.snapshot(spark, root, version)
        val joins = df.queryExecution.optimizedPlan
          .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        (df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq,
          joins.nonEmpty)
      } finally spark.conf.unset(key)
    }
    Seq(beforeOpt, opt, -1).foreach { v =>
      val (shuffled, joined) = read(v, Some("0"))
      val (filtered, filterJoined) = read(v, None)
      assert(filtered == shuffled, s"version $v: the two DV paths disagree")
      assert(!filterJoined, s"version $v: the in-budget read planned a join")
      if (v != opt) assert(joined, s"version $v: budget 0 did not anti-join")
      // a fresh plan over the memoized frame, through parquet-mr's reader
      val vec = "spark.sql.parquet.enableVectorizedReader"
      spark.conf.set(vec, "false")
      val rowBased = try TableLog.snapshot(spark, root, v).select("id", "s")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        finally spark.conf.unset(vec)
      assert(rowBased == shuffled, s"version $v: the row-based reader disagrees")
    }
    val expect = (0L until 200L).filter(i => i % 10 != 3 && i % 7 != 0)
    assert(read(opt, None)._1.map(_._1) == expect)
    assert(read(-1, None)._1.map(_._1) == expect.filter(_ % 5 != 1))
  }

  test("a cached snapshot without vectors never answers a read of the " +
      "same files with them") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 100).repartition(2))
    val before = TableLog.snapshot(spark, root, 0).cache()
    try {
      assert(before.count() == 100)
      TableLog.deleteVector(spark, root, col("id") < 30)
      val after = TableLog.snapshot(spark, root)
      assert(after.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.isEmpty, "the vectored read was answered from the cache")
      assert(after.count() == 70)
    } finally before.unpersist()
  }

  test("an overlapping second deleteVector records only the new rows " +
      "in the change feed") {
    val root = freshRoot()
    spark.conf.set("spark.graft.tablelog.cdf", "true")
    try {
      TableLog.append(spark, root, nums(0, 120).repartition(3))
      TableLog.deleteVector(spark, root, col("id") % 2 === 0)
      val v = TableLog.deleteVector(spark, root, col("id") % 3 === 0)
      val feed = TableLog.tableChanges(spark, root, v - 1, v)
        .select(col("id"), col(TableLog.ChangeTypeCol))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(feed == (0L until 120L).filter(i => i % 3 == 0 && i % 2 != 0)
        .map(_ -> "delete"), s"got $feed")
    } finally spark.conf.unset("spark.graft.tablelog.cdf")
    assert(TableLog.snapshot(spark, root).count() == 40)
  }

  test("a fresh read of a version whose files were vacuumed refuses at " +
      "listing, naming the missing file") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 40))            // v0
    TableLog.overwrite(spark, root, nums(100, 160))      // v1 delists v0
    assert(TableLog.vacuum(spark, root, retainFrom = 1) > 0)
    val err = intercept[java.io.FileNotFoundException] {
      TableLog.snapshot(spark, root, 0)
    }
    assert(err.getMessage.contains("does not exist"), err.getMessage)
    assert(TableLog.snapshot(spark, root).count() == 60)
  }

  test("a read over a deleted deletion-vector sidecar refuses, within " +
      "the broadcast budget and past it") {
    val key = "spark.graft.tablelog.dv.broadcastMaxBytes"
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 120).repartition(3))
    TableLog.deleteVector(spark, root, col("id") % 3 === 0)
    val Array(first) = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith("-dv"))
    assert(TableLog.snapshot(spark, root).count() == 80) // decoded, kept
    TableLog.deleteVector(spark, root, col("id") % 5 === 0)
    org.apache.commons.io.FileUtils.deleteDirectory(first)
    // a fresh session misses the snapshot memo but shares the decode
    val fresh = spark.newSession()
    Seq(Some("0"), None).foreach { budget =>
      budget.foreach(fresh.conf.set(key, _))
      try Seq(1, -1).foreach { v =>
        intercept[java.io.FileNotFoundException] {
          TableLog.snapshot(fresh, root, v).count()
        }
      } finally fresh.conf.unset(key)
    }
  }

  test("reads of one deletion-vector list share one decoded broadcast") {
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 60).repartition(2))
    TableLog.deleteVector(spark, root, col("id") < 10)
    def positions(df: org.apache.spark.sql.DataFrame): Long = {
      val format = df.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation].fileFormat
      }.get
      val field = format.getClass.getDeclaredFields.find(f =>
        classOf[org.apache.spark.broadcast.Broadcast[_]]
          .isAssignableFrom(f.getType)).get
      field.setAccessible(true)
      field.get(format).asInstanceOf[org.apache.spark.broadcast.Broadcast[_]].id
    }
    val a = TableLog.snapshot(spark, root)
    TableLog.append(spark, root, nums(100, 110)) // same vectors, new version
    val b = TableLog.snapshot(spark, root).filter(col("id") > 30)
    assert(positions(a) == positions(b))
    assert(a.count() == 50 && b.count() == 39)
    TableLog.deleteVector(spark, root, col("id") > 55)
    assert(positions(TableLog.snapshot(spark, root)) != positions(a))
  }

  test("merge refuses duplicate and NULL source keys whether or not the " +
      "source's row bound fits the broadcast key budget") {
    val sp = spark; import sp.implicits._
    val root = freshRoot()
    TableLog.append(spark, root, nums(0, 20), Seq("id"))
    val dup = Seq((3L, "a"), (3L, "b"), (30L, "c")).toDF("id", "s")
    val nul = Seq((Some(3L), "a"), (None, "b")).toDF("id", "s")
    // the same rows through parquet: a plan with no row bound
    val dir = Files.createTempDirectory("graft_mergesrc").toString
    dup.write.parquet(s"$dir/dup")
    val sources = Seq(dup, spark.read.parquet(s"$dir/dup"))
    val key = "spark.graft.merge.broadcastMaxKeys"
    Seq(None, Some("2")).foreach { budget =>
      budget.foreach(spark.conf.set(key, _))
      try {
        sources.foreach { src =>
          val e = intercept[IllegalArgumentException] {
            TableLog.merge(spark, root, src, "id", Seq("id"))
          }
          assert(e.getMessage.contains("duplicate"), e.getMessage)
        }
        val e = intercept[IllegalArgumentException] {
          TableLog.merge(spark, root, nul, "id", Seq("id"))
        }
        assert(e.getMessage.contains("NULL"), e.getMessage)
      } finally spark.conf.unset(key)
    }
    assert(TableLog.versions(spark, root) == Seq(0))
  }
}
