package graft

import org.apache.spark.sql.types._

/** Smoke + shape tests for the SURVEY §2 relational queries. Exact
  * value parity vs DuckDB is the driver's t2 gate (tools/oracle_check.py
  * mirrors it locally); here we pin row counts / schemas / invariants at
  * sf0.001 so regressions fail fast in `sbt test`.
  */
class RelationalSpec extends SparkSpec {

  test("every declared query runs and every query has an oracle") {
    // a duplicate key in the table would silently shadow its twin in
    // the derived maps, so distinctness is checked on the table itself
    val keys = SparkEntry.registry.map(_.key)
    assert(keys.distinct == keys, s"duplicate keys: ${keys.diff(keys.distinct)}")
    assert(keys.size == 316)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name has a blank oracle")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("select trims names, drops blanks and rejects unknown keys") {
    assert(SparkEntry.select(None) === None)
    assert(SparkEntry.select(Some("")) === None)
    assert(SparkEntry.select(Some(" q1_agg , topk ,,")) === Some(Seq("q1_agg", "topk")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q1_agg,no_such_key")))
    assert(e.getMessage.contains("no_such_key"))
    val both = intercept[IllegalArgumentException](
      SparkEntry.select(Some("nope_a, topk, nope_b")))
    assert(both.getMessage.contains("nope_a") && both.getMessage.contains("nope_b"))
  }

  test("Bench takes a committed baseline only at its own core count") {
    val detail = (cpus: String) =>
      s"""{"metric":"total","sf":"sf0.1"$cpus,"failures":0,""" +
        """"observed":{"o":{"n":3}},"queries":{"q1_agg":0.5,"topk":-1.0}}"""
    assert(Bench.baseline(detail(""","cpus":"8""""), "8") ==
      Right(Map("q1_agg" -> 0.5, "topk" -> -1.0)))
    val other = Bench.baseline(detail(""","cpus":"8""""), "32")
    assert(other.left.exists(w => w.contains("cpus=8") && w.contains("cpus=32")), other)
    val unrecorded = Bench.baseline(detail(""), "8")
    assert(unrecorded.left.exists(_.contains("not recorded")), unrecorded)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg: six groups of (returnflag, linestatus), counts sum to filtered size") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length <= 6 && rows.nonEmpty)
    assert(df.schema("count_order").dataType == LongType)
    // groups are sorted
    val keys = rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(keys == keys.sorted)
  }

  test("topk is sorted desc by extendedprice and limited to 100") {
    val prices = SparkEntry.queries("topk")(spark, sfDir)
      .collect().map(_.getDouble(2))
    assert(prices.length == 100)
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("filter_proj predicate holds on every output row") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("filter_proj")(spark, sfDir)
    assert(df.filter(col("l_linenumber") === 7).count() == 0)
  }

  test("distinct returns unique pairs") {
    val df = SparkEntry.queries("distinct")(spark, sfDir)
    assert(df.count() == df.dropDuplicates().count())
  }

  test("events ns-timestamp loads as TimestampType") {
    val df = graft.sources.Tables(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() > 0)
  }

  test("filter pushdown reaches the parquet scan") {
    val df = SparkEntry.queries("filter_proj")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed"),
      s"no pushdown in plan:\n$plan")
  }

  test("take gather property: random in-range index lists (repeats) " +
      "match the reference gather") {
    val rnd = new scala.util.Random(20260814L)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source")
    val sorted = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    for (trial <- 0 until 5) {
      val n = rnd.nextInt(12) + 1
      val idx = (0 until n).map(o =>
        o -> rnd.nextInt(sorted.length).toLong)
      val got = graft.ops.Relational
        .takeGather(spark, docs, Seq("doc_id"), idx)
        .select("ord", "doc_id", "source").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      val want = idx.map { case (o, p) =>
        (o, sorted(p.toInt)._1, sorted(p.toInt)._2) }
      assert(got.toSeq == want.toSeq, s"trial $trial diverged: " +
        s"${got.toSeq} vs ${want.toSeq}")
    }
  }

  test("take gather bounds contract: out-of-range raises with " +
      "boundscheck (the reference IndexError), drops without") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source")
    val n = docs.count()
    val bad = Seq(0 -> 0L, 1 -> n, 2 -> (n + 9))
    // boundscheck = true (default): reference Take raises IndexError
    // on any position >= length (take_test.cc), so must we
    val e = intercept[IndexOutOfBoundsException] {
      graft.ops.Relational.takeGather(spark, docs, Seq("doc_id"), bad)
    }
    assert(e.getMessage.contains("out of bounds"))
    intercept[IndexOutOfBoundsException] {
      graft.ops.Relational.takeGather(
        spark, docs, Seq("doc_id"), Seq(0 -> -1L))
    }
    // boundscheck = false: the unchecked fast path gathers what exists
    val got = graft.ops.Relational
      .takeGather(spark, docs, Seq("doc_id"), bad, boundscheck = false)
      .select("ord").collect().map(_.getInt(0))
    assert(got.toSeq == Seq(0))
  }

  test("take gather: index order preserved, repeats emitted, ids dense") {
    val rows = graft.ops.Relational.qTakeGather(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // output arrives in index-list order (the take.cc contract)
    assert(rows.map(_.getAs[Int]("ord")).toSeq ==
      rows.map(_.getAs[Int]("ord")).sorted.toSeq)
    // a repeated index yields the row twice (ord 1 and 2 both gather 7)
    val dup = rows.filter(r => r.getAs[Long]("pos") == 7L)
    assert(dup.length == 2 &&
      dup.map(_.getAs[Long]("doc_id")).distinct.length == 1)
    // position semantics: pos i is the (i+1)-th smallest doc_id, so
    // gathering pos 0 returns the table's minimum doc_id
    val minId = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(org.apache.spark.sql.functions.min("doc_id")).head.getLong(0)
    rows.filter(_.getAs[Long]("pos") == 0L)
      .foreach(r => assert(r.getAs[Long]("doc_id") == minId))
  }
}
