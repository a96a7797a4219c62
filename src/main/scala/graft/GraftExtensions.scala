package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CdcChunks, CosineSimilarity, Md5BucketFeats, Md5Shingles64, Md5ShinglesPos64, MinHashSigs, NormalizeText, ShingleHashes, SimHash64, SortedIntersectCount, Md5Margin, TextSegments, TokenProfile, VectorDots}

/** SparkSessionExtensions entry point — the deployment-grade way to
  * install the engine's native expressions into a cluster session:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (`Engine.configure` also installs the same functions directly into
  * a live session's registry, which is what local mains and tests
  * use.) This mirrors the reference's registry pattern: Gandiva's
  * function registry (`cpp/src/gandiva/function_registry.cc`) is the
  * analogous plug-in point for its JIT'd kernels.
  *
  * Extensions cannot set confs, so cluster deployments should also put
  * these in spark-defaults:
  *  - `spark.sql.timeType.enabled=true`: the engine's TIME column
  *    support (IPC/Flight codecs, `ipc_types`) needs Spark 4.1's TIME
  *    type unlocked;
  *  - the static confs of `Engine.buildConfs`, which `Engine.session`
  *    sets on its builder: `spark.sql.codegen.cache.maxEntries=1000`
  *    (the generated-class cache holds the engine's working set) and
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *    (reliable `iterCheckpoint` files are deleted with their RDDs).
  *    Its `spark.sql.extensions` entry is covered by this class.
  *
  * One physical rule is installed at session build, not by `configure`:
  * `spark.experimental` has no hook for physical-plan rules, so
  * `Engine.buildConfs` names `graft.plans.ParamLiteralExtension` in
  * `spark.sql.extensions`, and this class injects the same rule
  * (`ParamLiteralRule`, run before the columnar transitions: filter
  * literals become parameters of the generated code, so a read that
  * differs only in a literal reuses the compiled class). Naming both
  * classes injects it twice, which is harmless: the rule is idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.SmallDimBroadcastRule())
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewriteRule())
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    new graft.plans.ParamLiteralExtension()(ext)
  }
}

object GraftExtensions {
  /** The engine's native-function registry. */
  val functions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children(0), children(1))),
    ("md5_shingles64",
      new ExpressionInfo(classOf[Md5Shingles64].getName, "md5_shingles64"),
      (children: Seq[Expression]) =>
        Md5Shingles64(children(0), children(1))),
    ("md5_bucket_feats",
      new ExpressionInfo(
        classOf[Md5BucketFeats].getName, "md5_bucket_feats"),
      (children: Seq[Expression]) =>
        Md5BucketFeats(children(0), children(1))),
    ("md5_shingles_pos64",
      new ExpressionInfo(
        classOf[Md5ShinglesPos64].getName, "md5_shingles_pos64"),
      (children: Seq[Expression]) =>
        Md5ShinglesPos64(children(0), children(1))),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) =>
        ShingleHashes(children(0), children(1))),
    ("sorted_intersect_count",
      new ExpressionInfo(
        classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) =>
        SortedIntersectCount(children(0), children(1))),
    ("token_profile",
      new ExpressionInfo(classOf[TokenProfile].getName, "token_profile"),
      (children: Seq[Expression]) =>
        TokenProfile(children(0), children(1))),
    ("md5_margin",
      new ExpressionInfo(classOf[Md5Margin].getName, "md5_margin"),
      (children: Seq[Expression]) => Md5Margin(children(0))),
    ("minhash_sigs",
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) =>
        MinHashSigs(children(0), children(1))),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    ("vector_dots",
      new ExpressionInfo(classOf[VectorDots].getName, "vector_dots"),
      (children: Seq[Expression]) =>
        VectorDots(children(0), children(1))),
    ("normalize_text",
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (children: Seq[Expression]) => NormalizeText(children(0))),
    ("text_segments",
      new ExpressionInfo(classOf[TextSegments].getName, "text_segments"),
      (children: Seq[Expression]) =>
        TextSegments(children(0), children(1))),
    ("cdc_chunks",
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) =>
        CdcChunks(children(0), children(1), children(2))))
}
