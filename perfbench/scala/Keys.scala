package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Result checking of the read-only keys: the first output of each
  * key over one input directory is kept and, after the window, written
  * as parquet for run.py to compare with DuckDB running
  * `SparkEntry.oracleSql` over the same inputs (the repository's own
  * oracle comparison, tools/oracle_check.py); every later output of
  * that key must digest equal to the first. */
final class KeyResults(ctx: Ctx, inputs: String, name: String) {
  private val digests = new ConcurrentHashMap[String, String]()
  private val first = new ConcurrentHashMap[String, (StructType, Array[Row])]()

  def check(key: String, df: DataFrame, rows: Array[Row], rec: OpRec): Unit =
    if (!rec.failed) {
      val d = Canon.digest(Canon.rows(rows))
      val prev = digests.putIfAbsent(key, d)
      if (prev == null) first.put(key, (df.schema, rows))
      else if (prev != d) rec.wrong = true
    }

  /** Each key's first output as one parquet file, in its row order,
    * as `graft.Verify` writes it. */
  def flush(): Unit = first.asScala.toSeq.sortBy(_._1).foreach {
    case (key, (schema, rows)) =>
      val p = ctx.work.resolve(name).resolve(key).toString
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(p)
      ctx.checks.add(Check(key, p, graft.SparkEntry.oracleSql(key), inputs))
  }
}

/** A `SparkEntry.queries` key as one op over the tables in `dir`: the
  * build call, then the rows handed back to the caller. */
object Keys {
  lazy val queries = graft.SparkEntry.queries

  def run(ctx: Ctx, key: String, dir: String, results: Option[KeyResults],
      cls: String = "read"): OpRec =
    one(ctx, key, results, cls)(ctx.tracer.span("SparkEntry.build")(
      queries(key)(ctx.spark, dir)))

  /** One op: `build` makes the DataFrame, collect materializes it. */
  def one(ctx: Ctx, key: String, results: Option[KeyResults],
      cls: String = "read")(build: => DataFrame): OpRec = {
    var df: DataFrame = null
    var rows: Array[Row] = null
    val rec = ctx.op(key, cls) { t =>
      df = t.build(build)
      rows = t.exec(ctx.tracer.span("materialize")(df.collect()))
      rows.length
    }
    results.foreach(_.check(key, df, rows, rec))
    rec
  }
}

/** A fixed chain of curation keys over the seeded corpus, pass after
  * pass; the window closes at the end of the pass running at the
  * deadline, after at least `Main.MinRounds` passes, so every run
  * measures whole passes. */
final class CurationPipeline extends Main.Workload {
  override val chain = CurationPipeline.Chain
  private var results, warmResults: KeyResults = _

  def init(ctx: Ctx): Unit = {
    if (results == null) {
      results = new KeyResults(ctx, ctx.inputs, "results")
      warmResults = new KeyResults(ctx, ctx.warm, "warm-results")
    }
    ctx.put("corpus_docs", graft.sources.Tables(ctx.spark, ctx.inputs,
      "documents").count().toDouble)
  }

  /** The first key over the small warm-up corpus. */
  def warmup(ctx: Ctx): Unit =
    Keys.run(ctx, chain.head, ctx.warm, Some(warmResults), "op")

  /** One pass over the small warm-up corpus: the first execution of
    * each key compiles its code, and its outputs are checked too. */
  override def prime(ctx: Ctx): Unit =
    chain.foreach(Keys.run(ctx, _, ctx.warm, Some(warmResults), "op"))

  def run(ctx: Ctx, deadline: Long): Unit = {
    var n = 0
    while (n < Main.MinRounds || Clock.now < deadline) {
      n += 1
      chain.foreach(Keys.run(ctx, _, ctx.inputs, Some(results), "op"))
    }
  }

  override def finish(ctx: Ctx): Unit = {
    warmResults.flush()
    results.flush()
  }
}

object CurationPipeline {
  val Chain = Seq("text_normalize", "quality_gopher", "dedup_exact",
    "dedup_minhash", "dedup_ngram", "simjoin_topk", "dedup_semantic",
    "knn_ivf", "bpe_train")
}
