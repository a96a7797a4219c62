package graft

import org.apache.spark.sql.functions._

import graft.ops.{Analytics, TextAnalysis}

/** Event analytics + corpus gates: contracts the row-level oracle
  * can't express — funnel monotonicity, retention-cohort bounds, and
  * the single-split plan shape of the boilerplate segmenter.
  */
class AnalyticsSpec extends SparkSpec {

  test("novelty: per-doc novel shingles are bounded by the doc's distinct " +
      "shingles, and an exact-duplicated document scores zero novelty") {
    val out = TextAnalysis.qNoveltyNgrams(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (n, novel) = (r.getLong(1), r.getLong(2))
      assert(n > 0 && novel >= 0 && novel <= n,
        s"doc ${r.getLong(0)}: n_shingles=$n n_novel=$novel")
    }
    // every shingle of an exact-duplicated doc occurs in its twin too,
    // so its document frequency is >= 2 everywhere -> novelty must be 0
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val dupIds = docs.groupBy(col("text"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val reported = out.filter(r => dupIds.contains(r.getLong(0)))
    assert(reported.forall(_.getLong(2) == 0L),
      s"duplicated docs with nonzero novelty: ${
        reported.filter(_.getLong(2) != 0L).map(_.getLong(0)).mkString(",")}")
  }

  test("funnel stages are monotonically non-increasing and ordered") {
    val rows = Analytics.qFunnel(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val counts = rows.map(_.getLong(2))
    assert(counts.sliding(2).forall(p => p(0) >= p(1)),
      s"funnel grew between stages: ${counts.mkString(",")}")
    assert(counts.head > 0, "no user entered the funnel")
  }

  test("retention day-0 cohort count bounds every later offset") {
    val rows = Analytics.qRetentionCohort(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getDate(0))
    for ((cohort, rs) <- byCohort) {
      val byOffset = rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      // every user is active on their first-seen day, so offset 0 exists
      // and is the cohort's maximum possible activity
      assert(byOffset.contains(0), s"cohort $cohort missing day-0 row")
      assert(byOffset.values.forall(_ <= byOffset(0)),
        s"cohort $cohort has an offset exceeding day-0 activity")
    }
  }

  test("boilerplate segmenter splits each document exactly once per branch (Generate barrier)") {
    val plan = TextAnalysis.qBoilerplate(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // the segment-count self-join duplicates the segs subtree (count
    // side + probe side), so the barrier appears once per branch: the
    // explode(array(split)) Generate must survive optimization, and
    // every split must sit inside that barrier — never inlined into
    // the per-segment transform lambda, where it would re-split the
    // document once per segment
    val barriers = "explode\\(array\\(split\\(text".r.findAllIn(plan).length
    val splits = "split\\(text".r.findAllIn(plan).length
    assert(barriers >= 1, "the explode(array(split)) collapse barrier was optimized away:\n" + plan)
    assert(splits == barriers,
      s"$splits split(text) occurrences but only $barriers inside the Generate barrier " +
        "(a split leaked into the per-segment lambda)")
  }

  test("pagerank conserves scaled mass, bounds every rank by teleport, and is bit-deterministic") {
    val rows = graft.ops.Graph.qPageRank(spark, sfDir).collect()
    val n = rows.length
    assert(n > 0)
    val prs = rows.map(_.getLong(1))
    // integer mass: 1e12 minus only floor-division dust (< ~10 per node
    // across the 6 iterations), never more than the full scale
    val mass = prs.sum
    assert(mass <= 1000000000000L && mass >= 999999000000L,
      s"scaled PageRank mass drifted: $mass")
    val teleport = (1000000000000L / n) * 15 / 100
    assert(prs.forall(_ >= teleport), "a rank fell below the teleport floor")
    assert(prs.head == prs.max, "output not ordered highest-rank first")
    // integer arithmetic + localCheckpoint => bit-identical re-run
    val again = graft.ops.Graph.qPageRank(spark, sfDir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("pagerank favors in-degree: top decile mean in-degree beats corpus mean") {
    val pr = graft.ops.Graph.qPageRank(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = pr.length
    // rebuild the derived link graph's in-degrees driver-side (500 nodes)
    def hex4(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .take(2).map("%02x".format(_)).mkString, 16)
    val inDeg = new scala.collection.mutable.HashMap[Long, Long].withDefaultValue(0L)
    for (i <- 0L until n.toLong; k <- 1 to 3) {
      val es = (1 to 3).map(kk => hex4(s"$i#L$kk") % n).distinct
      if (k == 1) es.foreach(d => inDeg(d) += 1)
    }
    val meanAll = inDeg.values.sum.toDouble / n
    val top = pr.take(n / 10).map { case (id, _) => inDeg(id).toDouble }
    assert(top.sum / top.length > meanAll,
      s"top-decile mean in-degree ${top.sum / top.length} <= corpus mean $meanAll")
  }

  test("bpe_train learns a deterministic, compositional merge table with non-increasing frequency") {
    val rows = TextAnalysis.qBpeTrain(spark, sfDir).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 8), "steps not 1..8 in order")
    for (r <- rows) {
      assert(r.getString(3) == r.getString(1) + r.getString(2),
        s"merged symbol != lhs+rhs at step ${r.getInt(0)}")
      assert(r.getLong(4) > 0)
    }
    // BPE invariant: the best pair's frequency never increases — a merge
    // can only create pairs at most as frequent as the pair it consumed
    val freqs = rows.map(_.getLong(4))
    assert(freqs.sliding(2).forall(p => p(0) >= p(1)),
      s"merge frequency increased: ${freqs.mkString(",")}")
    // determinism: integer counts + lexicographic tie-break
    val again = TextAnalysis.qBpeTrain(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // symbols stay within the corpus alphabet + end-of-word marker
    assert(rows.forall(r => r.getString(3).matches("[a-z_]+")))
  }

  test("bpe_train equals an independent textbook BPE reference (pair-list greedy, not string replace)") {
    // the engine applies merges via two-pass string replace; the
    // scaladoc argues this equals the reference pair-list algorithm
    // for this vocabulary — PROVE it: an independent driver-side
    // textbook implementation (greedy leftmost merge over symbol
    // VECTORS, no string representation anywhere) must produce the
    // identical merge table
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    val words = docs
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")).between(2, 12))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(300)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toVector :+ "_") -> c }
    val ref = (1 to 8).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; i <- 0 until syms.size - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) =>
        (-n, a + "~" + b)
      }
      vocab = vocab.map { case (syms, n) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.size) {
          if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result() -> n
      }
      (step, l, r, l + r, c)
    }
    val got = TextAnalysis.qBpeTrain(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == ref,
      s"string-replace pipeline diverged from the pair-list reference:\n" +
        s"engine: $got\nref:    $ref")
  }

  test("bpe_encode fertility is coherent: words <= tokens <= chars+1 per word, ratio exact") {
    val rows = TextAnalysis.qBpeEncode(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (w, tk, f) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(w > 0 && tk >= w, s"lang ${r.getString(0)}: tokens $tk < words $w")
      // 12-char word cap + end marker bounds tokens per word
      assert(tk <= 13 * w, s"lang ${r.getString(0)}: fertility implausible")
      assert(f == 10000L * tk / w, "fert_bp is not the exact floor ratio")
    }
    // the 8 learned merges must actually fire: strictly fewer tokens
    // corpus-wide than the unmerged symbol count (letters + end markers)
    val unmerged = graft.sources.Tables(spark, sfDir, "documents")
      .select(sum(length(regexp_replace(lower(col("text")), "[^a-z]", ""))))
      .collect()(0).getLong(0) + rows.map(_.getLong(1)).sum
    assert(rows.map(_.getLong(2)).sum < unmerged,
      "no merge fired: token count equals the unmerged symbol count")
  }

  test("text_search prunes the posting index on BOTH layers: bucket partitions and pushed term filter") {
    val df = TextAnalysis.qTextSearch(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // partition pruning: each index scan keeps only its term's bucket dir
    assert("PartitionFilters: \\[[^\\]]*bkt".r.findFirstIn(plan).isDefined,
      "bucket partition filter missing from the index scan:\n" + plan)
    // predicate pushdown: the term equality reaches the parquet reader
    for (term <- Seq("hash", "join"))
      assert(plan.contains(s"EqualTo(term,$term)"),
        s"term '$term' not pushed into the posting scan:\n" + plan)
    val rows = df.collect()
    assert(rows.nonEmpty, "conjunctive query found no documents")
    // intersection semantics: every hit carries both term frequencies
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
    assert(rows.forall(r => r.getLong(3) == r.getLong(1) + r.getLong(2)))
  }

  test("length gate keeps roughly 90 percent per language") {
    val rows = TextAnalysis.qLengthFilter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getLong(1); val dropped = r.getLong(2)
      val frac = dropped.toDouble / n
      assert(frac >= 0.02 && frac <= 0.2,
        s"lang ${r.getString(0)}: dropped fraction $frac outside the p5/p95 gate's plausible band")
    }
  }

  test("triangle count matches a driver-side brute-force recount") {
    val row = graft.ops.Graph.qTriangleCount(spark, sfDir).head()
    val (nNodes, nEdges, nWedges, nTri) = (row.getAs[Long]("n_nodes"),
      row.getAs[Long]("n_edges"), row.getAs[Long]("n_wedges"),
      row.getAs[Long]("n_triangles"))
    // rebuild the derived link graph driver-side (500 nodes, ~1500 edges)
    def hex4(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
          .take(2).map("%02x".format(_)).mkString, 16)
    val und = (for {
      i <- 0L until nNodes
      k <- 1 to 3
      d = hex4(s"$i#L$k") % nNodes
      if d != i
    } yield (math.min(i, d), math.max(i, d))).toSet
    assert(und.size.toLong == nEdges, s"edge count ${und.size} vs $nEdges")
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Set.empty[Long])
    val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(deg.values.map(d => d * (d - 1) / 2).sum == nWedges)
    def linked(a: Long, b: Long) =
      adj(math.min(a, b)).contains(math.max(a, b))
    val bruteTri = und.toSeq.map { case (a, b) =>
      // count common neighbors above b to hit each triangle once
      (0L until nNodes).count(c => c != a && c != b &&
        linked(a, c) && linked(b, c)).toLong
    }.sum / 3 // Long accumulation: no Int overflow if the fixture grows
    assert(bruteTri.toLong == nTri,
      s"brute-force $bruteTri vs distributed $nTri")
    val cc = row.getAs[Double]("clustering")
    assert(cc > 0.0 && cc <= 1.0 && 3 * nTri <= nWedges)
  }

  test("skew_join equals the unsalted join aggregate") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.Joins.qSkewJoin(spark, sfDir).collect()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val want = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        graft.ops.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("robust outliers: MAD fence is tighter than the data range and sane") {
    val rows = graft.ops.Quality.qRobustOutliers(spark, sfDir).collect()
    assert(rows.length == 5) // the five priorities
    rows.foreach { r =>
      val (n, out) = (r.getAs[Long]("n"), r.getAs[Long]("n_outliers"))
      assert(out >= 0 && out < n / 2,
        s"breakdown violated: $out outliers of $n in ${r.getString(0)}")
      assert(r.getAs[Double]("mad_cents") > 0.0)
      if (out > 0)
        assert(math.abs(r.getAs[Long]("worst_cents") -
          r.getAs[Double]("med_cents")) >
          5 * r.getAs[Double]("mad_cents"))
    }
  }

  test("LPA communities: labels are node ids, sizes consistent, " +
      "deterministic, non-trivial structure") {
    val rows = graft.ops.Graph.qCommunityLpa(spark, sfDir).collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val byCommunity = rows.groupBy(_.getAs[Long]("community"))
    // a label can only ever be a node's id (labels start as ids and
    // propagation copies existing labels)
    assert(byCommunity.keySet.subsetOf(ids))
    // the reported size is the actual member count
    byCommunity.foreach { case (_, members) =>
      assert(members.map(_.getAs[Long]("csize")).distinct.length == 1)
      assert(members.head.getAs[Long]("csize") == members.length)
    }
    // the fixture link graph is connected enough that propagation must
    // merge SOME nodes, and sparse enough that it must not collapse to
    // one community
    assert(byCommunity.size < ids.size && byCommunity.size > 1,
      s"degenerate community structure: ${byCommunity.size} of ${ids.size}")
    val again = graft.ops.Graph.qCommunityLpa(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("indexed hybrid reproduces the direct hybrid bit-for-bit and " +
      "prunes the posting index") {
    val direct = TextAnalysis.qHybridSearch(spark, sfDir).collect()
    val indexed = TextAnalysis.qHybridIndexed(spark, sfDir)
    // an index is an access path, not a semantics change: same rows,
    // same ranks, same fused scores, same order
    assert(indexed.collect().map(_.toSeq).toSeq ==
      direct.map(_.toSeq).toSeq)
    // and it actually uses the index: the postings scan keeps only the
    // query terms' buckets and pushes the term equalities
    val plan = TextAnalysis.qHybridIndexed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bkt".r.findFirstIn(plan).isDefined,
      "bucket partition filter missing from the index scan:\n" + plan)
    // r14: ONE pruned scan serves all query terms (In-pushed), where
    // the per-term union re-scanned the index once per term
    val pushedIn = "In\\(term, \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1))
    assert(pushedIn.isDefined,
      "term IN filter not pushed into the posting scan:\n" + plan)
    for (term <- Seq("spark", "hash", "window"))
      assert(pushedIn.get.contains(term),
        s"term '$term' missing from the pushed IN filter:\n" + plan)
  }

  test("indexed hybrid: a failing lexical build leaves no live pool " +
      "thread") {
    import scala.jdk.CollectionConverters._
    // no documents table: the lexical build fails while the IVF build
    // runs beside it on the embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-hybrid")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    def live = Thread.getAllStackTraces.keySet.asScala.toSet
    val before = live
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        TextAnalysis.qHybridIndexed(spark, dir.toString))
      assert(e.getMessage.contains("documents"), e.getMessage)
      val leaked = (live -- before).filter(t =>
        !t.isDaemon || t.getName == "graft-inParallel")
      assert(leaked.isEmpty,
        s"threads outlived the query: ${leaked.map(_.getName)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(graft.ops.Egress.outRoot(dir.toString)))
    }
  }

  test("hybrid search: RRF fusion is rank-consistent and depth-bounded") {
    val rows = TextAnalysis.qHybridSearch(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // fused scores arrive sorted, and every emitted doc has at least
    // one leg rank within the declared depth
    val scores = rows.map(_.getAs[Long]("rrf_e12"))
    assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    rows.foreach { r =>
      val rl = Option(r.getAs[Any]("rl")).map(_.asInstanceOf[Int])
      val rv = Option(r.getAs[Any]("rv")).map(_.asInstanceOf[Int])
      assert(rl.nonEmpty || rv.nonEmpty)
      (rl ++ rv).foreach(x => assert(x >= 1 && x <= 50))
      // the RRF identity itself: floor(1e12 * (sum of reciprocals))
      val want = math.floor((rl.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rv.map(x => 1.0 / (60 + x)).getOrElse(0.0)) * 1e12).toLong
      assert(r.getAs[Long]("rrf_e12") == want)
    }
    // fusion must reward cross-leg agreement: any doc ranked in BOTH
    // legs outscores a doc whose single leg rank is no better
    val both = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val single = rows.filter(r => r.isNullAt(1) ^ r.isNullAt(2))
    for {
      b <- both; s <- single
      bBest = math.min(b.getAs[Int]("rl"), b.getAs[Int]("rv"))
      sRank = if (s.isNullAt(1)) s.getAs[Int]("rv") else s.getAs[Int]("rl")
      if sRank >= bBest
    } assert(b.getAs[Long]("rrf_e12") > s.getAs[Long]("rrf_e12"))
  }

  test("markov transitions: rows partition the successor pairs and " +
      "probabilities are a proper distribution per state") {
    val rows = graft.ops.Analytics.qMarkovTransitions(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // pair count conservation: every event except each user's last
    // contributes exactly one (cur, nxt) pair
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val expected = ev.count() -
      ev.select(org.apache.spark.sql.functions.col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected,
      "transition counts must partition the successor pairs")
    // per-state distribution: probabilities sum to 1 within rounding
    rows.groupBy(_.getAs[String]("cur")).foreach { case (cur, rs) =>
      val sum = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(sum - 1.0) < 1e-4, s"P(·|$cur) sums to $sum")
    }
  }
}
