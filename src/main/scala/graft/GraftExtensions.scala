package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions.{CdcChunks, CosineSimilarity, Md5BucketFeats, Md5Shingles64, Md5ShinglesPos64, MinHashSigs, NormalizeText, ShingleHashes, SimHash64, SortedIntersectCount, Md5Margin, TextSegments, TokenProfile, VectorDots}

/** The engine's one installer, a SparkSessionExtensions entry point.
  * Every engine session is built with [[Engine.buildConfs]], which
  * names this class in `spark.sql.extensions`; a cluster deployment
  * puts the same map in spark-defaults. Its static entries, which a
  * live session cannot take, are `spark.sql.extensions`,
  * `spark.sql.codegen.cache.maxEntries` and `spark.hadoop.fs.file.impl`
  * (read when the JVM first creates a `file:` FileSystem). This
  * mirrors the reference's registry pattern: Gandiva's function registry
  * (`cpp/src/gandiva/function_registry.cc`) is the analogous plug-in
  * point for its JIT'd kernels.
  *
  * It installs:
  *  - the native functions of [[GraftExtensions.functions]];
  *  - the optimizer rules `SmallDimBroadcastRule` and
  *    `WindowTopKRewriteRule`, once, right after operator optimization
  *    (`injectPreCBORule`); `injectOptimizerRule` gives the same plans
  *    but runs them in every iteration of both operator-optimization
  *    fixed points;
  *  - the planner strategy `TopKPerGroupStrategy`;
  *  - `ParamLiteralRule`, before the columnar transitions: filter
  *    literals become parameters of the generated code, so a read that
  *    differs only in a literal reuses the compiled class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPreCBORule(_ => graft.plans.SmallDimBroadcastRule())
    ext.injectPreCBORule(_ => graft.plans.WindowTopKRewriteRule())
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.plans.ParamLiteralRule
    })
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
