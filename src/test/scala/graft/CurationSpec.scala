package graft

import org.apache.spark.sql.functions._

import graft.ops.{Privacy, Profile, Sampling, TextAnalysis}

/** Corpus-curation tier: PII redaction/pseudonymization, repetition
  * quality gates, and deterministic stratified sampling. The DuckDB
  * oracle pins exact values; these tests pin the semantic contracts
  * the oracle can't express (no-digits-after-redaction, collision
  * freedom, rate concentration, no-shuffle sample plan).
  */
class CurationSpec extends SparkSpec {

  test("pii redaction strips every digit and pseudonyms are collision-free") {
    val out = Privacy.qPiiRedact(spark, sfDir).cache()
    try {
      assert(out.filter(col("redacted_name").rlike("[0-9]")).isEmpty,
        "digits survived redaction")
      assert(out.filter(!col("pseudonym").rlike("^[0-9a-f]{16}$")).isEmpty,
        "pseudonym is not 16 lowercase hex chars")
      val n = out.count()
      assert(n > 0 && out.select("pseudonym").distinct().count() == n,
        "pseudonym collision at fixture scale")
    } finally out.unpersist()
  }

  test("repetition fractions are valid and the word-salad corpus repeats") {
    val rows = TextAnalysis.qQualityRepetition(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, g) = (r.getAs[Double]("avg_dup_word"), r.getAs[Double]("avg_dup_gram"))
      assert(w >= 0 && w <= 1 && g >= 0 && g <= 1, s"fraction out of range: $r")
      // small shared vocabulary -> long docs must repeat words heavily
      assert(w > 0.3, s"expected heavy word repetition, got $w")
      assert(g < w, s"bigram dup should be rarer than word dup: $r")
    }
  }

  test("stratified sample hits each stratum's target rate and keeps P whole") {
    val rows = Sampling.qStratifiedSample(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (pTotal, pKept) = rows("P")
    assert(pKept == pTotal, "P stratum must be kept whole (rate 1000/1000)")
    for ((status, target) <- Seq("O" -> 0.10, "F" -> 0.25)) {
      val (total, kept) = rows(status)
      val rate = kept.toDouble / total
      assert(math.abs(rate - target) < 0.06,
        s"$status realized rate $rate far from target $target (n=$total)")
    }
  }

  test("table profile scans one pruned column per profiled column, Expand-free") {
    // r14 shape: one single-distinct aggregate per profiled column
    // (concurrent subtrees, single-row cross joins back). The old
    // single-scan form paid Expand ×4 — every input row quadrupled
    // into one giant multi-distinct hash map; the split form reads the
    // SAME total bytes (each scan prunes to exactly its own column,
    // asserted below) with no row multiplication anywhere.
    val df = Profile.qProfileTable(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"profile must not multiply rows through Expand:\n$plan")
    val reads = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.size == 3, s"expected 3 per-column scans, saw $reads:\n$plan")
    reads.foreach(r => assert(!r.contains(","),
      s"each profile scan must read exactly one column, saw '$r':\n$plan"))
  }

  test("histogram buckets partition the value domain") {
    val rows = Profile.qHistogram(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val nEvents = graft.sources.Tables(spark, sfDir, "events").count()
    assert(total == nEvents, s"bucket counts $total != table rows $nEvents")
    rows.foreach { r =>
      val lo = r.getAs[Long]("bucket_lo")
      assert(r.getAs[Double]("bucket_min") >= lo &&
        r.getAs[Double]("bucket_max") < lo + 10, s"value outside bucket: $r")
    }
  }

  test("sampling and mixing are invariant under repartitioning") {
    // the selling point of hash-gate sampling: partitioning cannot
    // change membership. Run each summary against a 13-way reshuffle
    // of the same input and require identical rows.
    val orders = graft.sources.Tables(spark, sfDir, "orders")
    assert(Sampling.stratifiedSummary(orders).collect().toSeq ==
      Sampling.stratifiedSummary(orders.repartition(13)).collect().toSeq)
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    assert(Sampling.mixSummary(docs).collect().toSeq ==
      Sampling.mixSummary(docs.repartition(13)).collect().toSeq)
    // gate membership itself (not just counts): same kept doc_ids
    def keptIds(df: org.apache.spark.sql.DataFrame) =
      df.filter(pmod(col("doc_id") * 48271L, lit(1000L)) < 250)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds(docs.repartition(13)) == keptIds(docs))
  }

  test("weighted sample: k per source, length-biased, repartition-invariant") {
    val sample = Sampling.qWeightedSample(spark, sfDir).collect()
    val perSrc = sample.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    assert(perSrc.values.forall(_ == 10), s"expected 10 per source: ${perSrc.toMap}")
    // length-proportional weights must pull the sampled mean length
    // above the corpus mean (deterministic given the fixture)
    val corpusAvg = graft.sources.Tables(spark, sfDir, "documents")
      .agg(avg("n_chars")).head.getDouble(0)
    val sampleAvg = sample.map(_.getAs[Long]("n_chars")).sum.toDouble / sample.length
    assert(sampleAvg > corpusAvg, s"sample avg $sampleAvg !> corpus avg $corpusAvg")
    // priorities are key-pure, so the custom top-k must select the
    // same rows however the input is partitioned
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("pri", Sampling.weightedPriority(col("doc_id"), col("n_chars")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      graft.plans.TopKPerGroup(df, Seq("source"),
        Seq(("pri", false), ("doc_id", true)), 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(docs) == ids(docs.repartition(13)))
  }

  test("deletion list and mix-rate table broadcast; fact side never re-shuffles") {
    for ((name, q) <- Seq(
        "deletion_propagate" -> graft.ops.Privacy.qDeletionPropagate _,
        "mix_temperature" -> Sampling.qMixTemperature _,
        // full-outer can't broadcast in Spark — the merge is rewritten
        // as left-outer + semi/anti, all three joins broadcast-built
        "merge_upsert" -> graft.ops.Merge.qMergeUpsert _)) {
      val plan = q(spark, sfDir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name must broadcast its small side:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name shuffled a fact table for a tiny build side:\n$plan")
    }
  }

  test("the sample gate itself is a no-shuffle codegen'd filter") {
    val gated = graft.sources.Tables(spark, sfDir, "orders")
      .filter(pmod(col("o_orderkey") * 48271L, lit(1000L)) < lit(250))
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    // "*(1)" prefix = the filter sits inside a whole-stage-codegen span
    assert(plan.contains("*(1) Filter"), s"gate left codegen:\n$plan")
  }

  test("semantic dedup: dropped docs have a smaller similar keeper; " +
      "kept docs are pairwise dissimilar within a cell") {
    val tau = 0.40
    val d = graft.ops.Similarity.semanticDedupDetail(spark, sfDir, tau)
      .cache()
    try {
      val a = d.select(col("cell"), col("vec_id").as("i"),
        col("embedding").as("ei"), col("dropped").as("di"))
      val b = d.select(col("cell"), col("vec_id").as("j"),
        col("embedding").as("ej"), col("dropped").as("dj"))
      val pairs = a.join(b, Seq("cell")).where(col("i") < col("j"))
        .withColumn("sim",
          graft.functions.cosine_sim(col("ei"), col("ej")) >= tau)
        .cache()
      // SemDeDup contract 1: j dropped  <=>  exists i<j similar in cell
      val shouldDrop = pairs.filter(col("sim"))
        .select(col("cell"), col("j")).distinct()
      val marked = d.filter(col("dropped"))
        .select(col("cell"), col("vec_id").as("j"))
      assert(shouldDrop.exceptAll(marked).count() == 0 &&
        marked.exceptAll(shouldDrop).count() == 0,
        "dropped set != {docs with a smaller similar neighbor}")
      // contract 2 (implied): no two KEPT docs in one cell are similar
      assert(pairs.filter(col("sim") && !col("di") && !col("dj")).count() == 0)
      // and the threshold actually separates on this corpus: some
      // drops happen, but not everything drops
      val nd = d.filter(col("dropped")).count()
      assert(nd > 0 && nd < d.count(), s"degenerate tau: $nd dropped")
      // summary query agrees with the detail view
      val summary = graft.ops.Similarity.semanticDedup(spark, sfDir, tau)
        .agg(sum("n_dropped")).head().getLong(0)
      assert(summary == nd)
    } finally { d.unpersist() }
  }

  test("adaptiveCells: occupancy stays under the cap on the fixture, " +
      "and a synthetic mega-cell is recursively split") {
    val sp = spark; import sp.implicits._
    // fixture: k = ceil(N/50), no cell may exceed 4*50 — which also
    // bounds the SemDeDup pair count at N*(cap-1)/2 (linear in N)
    val e = graft.sources.Tables(spark, sfDir, "embeddings")
    val counts = graft.ops.Similarity.adaptiveCells(e)
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    val n = counts.sum
    assert(counts.max <= 200, s"over-cap cell: ${counts.max}")
    val pairs = counts.map(c => c * (c - 1) / 2).sum
    assert(pairs <= n * 199 / 2, s"pair count $pairs breaks the linear bound")

    // synthetic skew: 12 one-hot seed directions, then two tight
    // clusters (A = e1+0.3*e13, B = e1+0.3*e14) that BOTH argmax to
    // cell 1 -> 361-member mega-cell over the 200 cap. The recursive
    // split re-clusters it: A lands on an A sub-seed, B stays with
    // the e1 sub-seed -> all sub-cells back under the cap.
    val dim = 16
    def oneHot(i: Int): Array[Float] =
      Array.tabulate(dim)(d => if (d == i) 1f else 0f)
    def mix(main: Int, minor: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        if (d == main) 1f else if (d == minor) 0.3f else 0f)
    val rows =
      (0 until 12).map(i => (i.toLong, oneHot(i))) ++
      (12 until 192).map(i => (i.toLong, mix(0, 12))) ++
      (192 until 372).map(i => (i.toLong, mix(0, 13)))
    val skewed = rows.toDF("vec_id", "embedding")
    val cells = graft.ops.Similarity.adaptiveCells(skewed)
      .groupBy(col("cell")).count().collect()
    val occ = cells.map(_.getLong(1))
    assert(occ.max <= 200,
      s"mega-cell survived the recursive split: ${cells.mkString(",")}")
    assert(cells.exists(_.getLong(0) > 100000L),
      "expected sub-cell labels (parent*1e5 + sub) after the split")
  }

  test("adaptiveCells resplit is BATCHED: Spark job count stays constant " +
      "as the number of hot cells grows") {
    val sp = spark; import sp.implicits._
    // many hot cells at once: H one-hot seed directions, each with 250
    // members (cap is 4*50=200) — the r6 driver loop ran a per-cell
    // count/collect/refine cascade (job count ~ O(H)); the batched
    // form must stay at a constant number of jobs regardless of H
    val dim = 16
    def cluster(seedDim: Int, base: Int, n: Int) =
      (0 until n).map(i => ((base + i).toLong,
        Array.tabulate(dim)(d => if (d == seedDim) 1f
          else if (d == (seedDim + 1) % dim) i % 5 * 0.01f else 0f)))
    def jobsFor(h: Int): (Int, Array[org.apache.spark.sql.Row]) = {
      val rows = (0 until h).flatMap(c => cluster(c, c * 1000, 250))
      val df = rows.toDF("vec_id", "embedding").repartition(8)
        .localCheckpoint(true) // isolate input lineage from the count
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      sp.sparkContext.addSparkListener(listener)
      try {
        val cells = graft.ops.Similarity.adaptiveCells(df)
          .groupBy(col("cell")).count().collect()
        Thread.sleep(1500) // listener bus is async; let job events drain
        (counter.get(), cells)
      } finally sp.sparkContext.removeSparkListener(listener)
    }
    val (jobs2, cells2) = jobsFor(2)
    val (jobs8, cells8) = jobsFor(8)
    // h=2: the hot cluster's own members seed its resplit — it lands
    // back under the cap. (h=8 mixes orthogonal clusters into one hot
    // cell whose min-id sub-seeds all come from one cluster: one
    // resplit level can't fully separate that adversarial geometry —
    // a depth/clustering-quality matter, not a batching one.)
    assert(cells2.map(_.getLong(1)).max <= 200,
      s"resplit failed: ${cells2.mkString(",")}")
    // both scales actually exercised the resplit path
    assert(cells2.exists(_.getLong(0) > 100000L))
    assert(cells8.exists(_.getLong(0) > 100000L))
    // THE property under test: 4x the hot cells may not cost more than
    // a couple of extra jobs (AQE re-plans wiggle, driver loops don't —
    // the r6 loop was ~5 jobs PER hot cell)
    assert(jobs8 <= jobs2 + 3,
      s"job count grew with hot-cell count: $jobs2 -> $jobs8 (driver loop?)")
  }

  test("paragraph dedup keeps first corpus occurrence and reassembles in order") {
    val sp = spark; import sp.implicits._
    // L=4 segments: doc0 = [s0 s1 s2]; doc1 repeats doc0's s1 between
    // two unique segments; doc2 is an exact copy of doc0
    val s0 = "a b c d"; val s1 = "e f g h"; val s2 = "i j k l"
    val u1 = "m n o p"; val u2 = "q r s t"
    val docs = Seq(
      (0L, s"$s0 $s1 $s2"),
      (1L, s"$u1 $s1 $u2"),
      (2L, s"$s0 $s1 $s2")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.paragraphDedup(docs, 4)
      .orderBy("doc_id").collect()
    // doc2 lost every segment -> dropped from the output entirely
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val r0 = out(0); val r1 = out(1)
    assert(r0.getString(1) == s"$s0 $s1 $s2" &&
      r0.getLong(2) == 3 && r0.getLong(3) == 0,
      s"first occurrence must survive intact: $r0")
    assert(r1.getString(1) == s"$u1 $u2" &&
      r1.getLong(2) == 2 && r1.getLong(3) == 1,
      s"repeated span must drop, order must hold: $r1")
  }

  test("global row ids: contiguous 0..N-1 in key order, no single-reducer stage, " +
      "stable across executions") {
    val rows = graft.ops.Sampling.qGlobalRowIds(spark, sfDir).collect()
    val n = rows.length
    assert(n > 0)
    // contiguous and aligned with the doc_id order
    assert(rows.map(_.getAs[Long]("row_id")).toSeq == (0L until n),
      "row ids are not contiguous 0..N-1 in doc_id order")
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
      rows.map(_.getAs[Long]("doc_id")).sorted.toSeq)
    // two independent executions agree bit-for-bit (the zipWithIndex
    // two-phase assignment must not depend on boundary sampling luck)
    val again = graft.ops.Sampling.qGlobalRowIds(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("winsorize: clip stays inside [p05,p95], ~10% outliers, no full-table window") {
    val df = graft.ops.Quality.qWinsorize(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val lo = rows.head.getAs[Long]("p05_fx"); val hi = rows.head.getAs[Long]("p95_fx")
    assert(lo < hi)
    rows.foreach { r =>
      val c = r.getAs[Long]("clipped_fx")
      assert(c >= lo && c <= hi, s"clip escaped bounds: $r")
      val raw = r.getAs[Long]("n_chars") * 10000L
      assert(r.getAs[Boolean]("is_outlier") == (raw < lo || raw > hi))
    }
    val frac = rows.count(_.getAs[Boolean]("is_outlier")).toDouble / rows.length
    assert(frac <= 0.12, s"outlier fraction $frac implausible for p05/p95 clipping")
    // scale shape: bounds come from a broadcast 1-row agg, not a window
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"winsorize must not plan a window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"quantile bounds should broadcast:\n$plan")
  }

  test("global row ids run as the zipWithIndex two-job shape, not a per-phase re-sort") {
    // the two-phase assignment must stay ONE RDD instance driving two
    // jobs (count + assign); re-deriving the sorted frame per phase
    // would re-sample range boundaries (correctness drift risk) and
    // add sort jobs. Allow the final collect()'s job and AQE wiggle:
    // the property is a small CONSTANT, not O(phases × partitions).
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val n =
      try {
        graft.ops.Sampling.qGlobalRowIds(spark, sfDir).collect()
        // drain the async listener bus deterministically — a fixed
        // sleep undercounts on a slow bus and overpays on a fast one
        // (listenerBus is private[spark], hence the reflective call)
        val bus = spark.sparkContext.getClass
          .getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    // observed decomposition: range-boundary sampling (1) +
    // zipWithIndex count (1) + assign (1) + AQE shuffle-stage jobs for
    // the output ORDER BY (2-3) + result collect (1) ≈ 7. The failure
    // mode guarded against — re-deriving the sorted frame per phase —
    // adds a sort+sample pair PER PHASE and lands well past 9.
    assert(n <= 9, s"id assignment ran $n jobs — expected a small constant")
  }

  test("incremental minhash equals the batch answer restricted to delta pairs") {
    val batch = graft.ops.Dedup.qDedupMinhash(spark, sfDir)
      .filter(col("d2") >= 400).collect().map(_.toSeq).toSeq
    val incr = graft.ops.Dedup.qDedupMinhashIncr(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(incr == batch,
      s"incremental path diverged from batch:\n$incr\nvs\n$batch")
  }

  test("corpus shuffle: a deterministic permutation that actually permutes") {
    val rows = graft.ops.Sampling.qCorpusShuffle(spark, sfDir).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("shuffle_rank")).toSeq == (0L until n))
    // every doc appears exactly once
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == n)
    // the permutation is not the identity ordering (md5 scrambles)
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids != ids.sorted, "shuffle left the corpus in doc_id order")
    // reproducible from the salt alone
    val again = graft.ops.Sampling.qCorpusShuffle(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("t-closeness: EMD is a normalized distance and the audit discriminates") {
    val rows = Privacy.qTCloseness(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Double]("t")
      assert(t >= 0.0 && t <= 1.0, s"EMD out of [0,1]: $r")
      assert(r.getAs[Boolean]("breach") == (t > 0.15))
    }
    // a non-degenerate fixture has both close and divergent classes
    val ts = rows.map(_.getAs[Double]("t"))
    assert(ts.max > ts.min, "all classes equally close — audit is vacuous")
  }

  test("char diversity: simpson in range, prose keeps, degenerate text would not") {
    val rows = TextAnalysis.qCharDiversity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("simpson")
      assert(s > 0.0 && s < 1.0, s"simpson out of range: $r")
      assert(r.getAs[Long]("n_distinct_chars") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Double]("mean_word_len") > 0.0)
    }
    // the fixture corpus is word-salad prose: multi-char alphabet and
    // space-separated words must clear the diversity gate
    assert(rows.count(_.getAs[Boolean]("kept")) > rows.length / 2,
      "prose corpus mostly rejected — gate thresholds are wrong")
    // the astral-plane probe (doc_id -1, "ab 😀😀🎉 cd"): 9 CODE
    // POINTS, not 12 UTF-16 code units — pins the code-point split
    // contract the DuckDB oracle replays
    val probe = rows.find(_.getAs[Long]("doc_id") == -1L).get
    assert(probe.getAs[Long]("n_chars") == 9L,
      s"probe counted code units, not code points: $probe")
    assert(probe.getAs[Long]("n_distinct_chars") == 7L)
  }

  test("table diff: classes partition the base, added keys disjoint by sign") {
    val rows = graft.ops.Quality.qTableDiff(spark, sfDir).collect()
    val byClass = rows.map(r => r.getString(0) -> r).toMap
    assert(byClass.keySet == Set("added", "changed", "removed", "unchanged"))
    val n = (c: String) => byClass(c).getAs[Long]("n")
    val baseCount = spark.read.parquet(s"$sfDir/orders.parquet").count()
    // every base key is exactly one of unchanged/changed/removed
    assert(n("unchanged") + n("changed") + n("removed") == baseCount)
    // inserts live under fresh negative keys — never colliding with base
    assert(byClass("added").getAs[Long]("max_key") < 0)
    // each 1/16 nibble class lands near its expected share
    for (c <- Seq("added", "changed", "removed"))
      assert(n(c) > baseCount / 32 && n(c) < baseCount / 8,
        s"$c count ${n(c)} implausible for a 1/16 edit script")
  }

  test("drift detect: TVD bounded, stable features pass, disjoint feature flags") {
    val rows = graft.ops.Quality.qDriftDetect(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("feature")).toSeq ==
      Seq("lang", "len", "source"))
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    rows.foreach { r =>
      val tvd = r.getAs[Double]("tvd")
      assert(tvd >= 0.0 && tvd <= 1.0, s"TVD out of [0,1]: $r")
      assert(r.getAs[Long]("na") + r.getAs[Long]("nb") == total)
      assert(r.getAs[Boolean]("drifted") == (tvd > 0.05))
    }
    // fixture structure: lang/length are independent of doc_id parity
    // (sampling noise only — at sf0.001's 25-doc halves that noise is
    // O(1/√25), so pin the ORDERING, not the absolute), while
    // source = f(doc_id) makes the halves fully DISJOINT
    val byF = rows.map(r => r.getAs[String]("feature") -> r).toMap
    assert(byF("lang").getAs[Double]("tvd") <
      byF("source").getAs[Double]("tvd"))
    assert(byF("source").getAs[Double]("tvd") == 1.0)
    assert(byF("source").getAs[Boolean]("drifted"))
  }

  test("url canonicalization collapses case/port/www/tracking/order/fragment") {
    import graft.ops.Curation
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
      "https://example.com/a/b?a=1&b=2",
      "https://example.com/a/b/?b=2&a=1&fbclid=zzz",
      // different: port is NOT the scheme default, param value differs
      "https://example.com:8443/a/b?a=1&b=2",
      "https://example.com/a/b?a=1&b=3",
      // empty path + only-tracking query → bare root
      "http://www.example.com:80?utm_campaign=y")
    val out = spark.createDataFrame(urls.map(Tuple1(_))).toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    assert(out(0) == "https://example.com/a/b?a=1&b=2", out(0))
    assert(out(1) == out(0) && out(2) == out(0),
      s"variant classes must collapse: ${out.toSeq}")
    assert(out(3) == "https://example.com:8443/a/b?a=1&b=2", out(3))
    assert(out(4) == "https://example.com/a/b?a=1&b=3", out(4))
    assert(out(5) == "http://example.com/", out(5))
    // the fixture query dedups: every canonical group's keeper is its min id
    val dd = graft.ops.Curation.qDedupUrl(spark, sfDir).collect()
    assert(dd.nonEmpty && dd.forall(_.getAs[Long]("n_dups") >= 1))
    // IDEMPOTENCE: a canonical URL canonicalizes to itself — the
    // property that makes the canonical form a stable join/dedup key
    // across re-ingests (canon applied at crawl time and again at
    // merge time must agree)
    val fixed = spark.createDataFrame(
        (urls ++ dd.map(_.getAs[String]("canonical_url"))).map(Tuple1(_)))
      .toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"), Curation.canonicalizeUrl(col("c1")).as("c2"))
      .filter(col("c1") =!= col("c2"))
      .collect()
    assert(fixed.isEmpty,
      s"canonicalization not idempotent: ${fixed.take(3).toSeq}")
  }

  test("record linkage: multi-pass blocking reaches full recall on derived twins") {
    val m = graft.ops.Curation.qRecordLinkage(spark, sfDir).collect()
    val nCust = spark.read.parquet(s"$sfDir/customer.parquet").count()
    val truePairs = m.count(r =>
      r.getAs[Long]("d_id") - 1000000L == r.getAs[Long]("c_custkey"))
    // every derived dirty record must link back to its source: the
    // perturbations were chosen within the scorer's tolerance, and the
    // SECOND blocking pass catches what the first one's bucket edges miss
    assert(truePairs == nCust, s"recall ${truePairs}/$nCust")
    // false positives need a ≤2-edit name AND a ≤0.05 balance coincidence —
    // allowed (deterministic), but they must stay rare
    assert(m.length - truePairs <= nCust / 20,
      s"too many false positives: ${m.length - truePairs}")
    m.foreach { r =>
      assert(r.getAs[Int]("name_dist") <= 2)
      assert(r.getAs[Double]("bal_diff") <= 0.05)
    }
  }

  test("pmi pairs are canonically ordered with finite scores and sane counts") {
    val rows = graft.ops.Curation.qPmiCooccur(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("wa") <= r.getAs[String]("wb"), s"unordered pair: $r")
      assert(r.getAs[Long]("c_pair") >= 1)
      val pmi = r.getAs[Double]("pmi")
      assert(!pmi.isNaN && !pmi.isInfinite, s"non-finite PMI: $r")
    }
    // ranked by raw pair count (integer — no float ranking)
    val counts = rows.map(_.getAs[Long]("c_pair"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("dsir selection: target docs excluded, integer weights exact, " +
      "Gumbel keys deterministic, selection actually reorders by key") {
    val rows = graft.ops.Curation.qDsirSelect(spark, sfDir).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 10 != 0,
        s"a TARGET doc selected itself: $r")
      assert(r.getAs[Long]("n_feats") >= 1)
    }
    // keys descend (the top-k order) and differ from pure-weight order
    // (the Gumbel noise must actually participate — otherwise this is
    // plain argmax, not sampling)
    val keys = rows.map(_.getAs[Long]("gkey"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    val ws = rows.map(_.getAs[Long]("w"))
    assert(ws.zip(ws.tail).exists { case (a, b) => a < b },
      "selection order identical to weight order — Gumbel noise absent")
    // deterministic: a rerun selects the identical ranked set
    val again = graft.ops.Curation.qDsirSelect(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "DSIR selection is not rerun-stable")
  }

  test("dsir quantization margin: every ln-derived round() input sits " +
      "far from a .5 boundary — a one-ULP cross-engine ln() drift " +
      "cannot flip a micro-nat and break oracle hash parity") {
    // HALF_UP rounding flips only when |x| crosses a fractional-.5
    // boundary, so the margin is |frac(|x|) - 0.5| measured in ULPs
    // of x itself
    def minMarginUlps(xs: Array[Double]): Double =
      xs.map { x =>
        val d = math.abs(math.abs(x) % 1.0 - 0.5)
        d / math.max(math.ulp(x), java.lang.Double.MIN_VALUE)
      }.min
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val (lrs, gs) = graft.ops.Curation.dsirRoundInputs(spark, dir)
      assert(lrs.nonEmpty && gs.nonEmpty)
      assert(lrs.forall(x => !x.isNaN && !x.isInfinite))
      assert(gs.forall(x => !x.isNaN && !x.isInfinite))
      val mLr = minMarginUlps(lrs)
      val mG = minMarginUlps(gs)
      info(f"$dir: log-ratio margin $mLr%.3g ULPs over ${lrs.length} " +
        f"buckets, Gumbel margin $mG%.3g ULPs over ${gs.length} docs")
      assert(mLr >= 1e4, f"log-ratio quantization margin too thin: $mLr%.3g ULPs")
      assert(mG >= 1e4, f"Gumbel quantization margin too thin: $mG%.3g ULPs")
    }
  }

  test("dp counts: noise is bounded, deterministic, and actually present") {
    val a = graft.ops.Privacy.qDpCounts(spark, sfDir).collect()
    val b = graft.ops.Privacy.qDpCounts(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "seeded DP noise must be reproducible")
    // Laplace(1/ε=1) through a uniform floored at 1e-12: |noise| ≤ ln(1e12)
    val maxAbs = math.log(1e12)
    a.foreach { r =>
      val d = math.abs(r.getAs[Double]("n_noisy") - r.getAs[Long]("n_true"))
      assert(d <= maxAbs + 1e-9, s"noise beyond inverse-CDF bound: $r")
    }
    assert(a.exists(r =>
      math.abs(r.getAs[Double]("n_noisy") - r.getAs[Long]("n_true")) > 1e-6),
      "no row shows any noise — the mechanism is not engaged")
  }

  test("bpe merges split words by code point and break ties in UTF-8 " +
      "byte order") {
    // U+FF41 sorts before U+1D49C in UTF-8 (= code point) order but
    // after it in UTF-16 order, and a UTF-16 split would cut U+1D49C
    // into two lone surrogates; the ASCII word supplies the later steps
    val wide = "\uFF41"
    val astral = new String(Character.toChars(0x1D49C))
    val merges = TextAnalysis.bpeMerges(
      Seq(astral -> 5L, wide -> 5L, "abcdefghij" -> 1L))
    assert(merges.take(3) == Seq((1, wide, "_", wide + "_", 5L),
      (2, astral, "_", astral + "_", 5L), (3, "a", "b", "ab", 1L)))
    assert(merges.size == 8)
  }

  test("whitening is a per-dimension monotone (affine) map") {
    val rows = graft.ops.Similarity.qEmbedWhiten(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[String]("whitened").split(",").map(_.toLong))
    assert(rows.nonEmpty)
    val dim = rows.head._2.length
    assert(rows.forall(_._2.length == dim), "ragged whitened vectors")
    // order preservation on dimension 0: whitening must not permute
    // the ranking of vectors within a coordinate
    val orig = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), element_at(col("embedding"), 1).as("v0"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Float]("v0")).toMap
    val byOrig = rows.sortBy { case (id, _) => orig(id) }.map(_._2(0))
    assert(byOrig.zip(byOrig.tail).forall { case (x, y) => x <= y },
      "whitening permuted a coordinate's ordering")
  }
}
