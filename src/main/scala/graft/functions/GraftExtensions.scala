package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` installs the
  * functions permanently, plus the semantics-preserving optimizer rules of
  * `graft.plans` (RegexExistenceRewrite, DisjunctiveJoinRewrite) and the
  * as-of planner strategy — both Catalyst extension tiers ride the one
  * entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinHashSig(exprs.head,
        exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (exprs: Seq[Expression]) => SortedIntersectSize(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("morton_key"),
      new ExpressionInfo(classOf[MortonKey].getName, "morton_key"),
      (exprs: Seq[Expression]) => MortonKey(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_contains"),
      (exprs: Seq[Expression]) => BloomMightContain(exprs.head,
        exprs(1).eval().asInstanceOf[Array[Byte]])))
    ext.injectFunction((
      FunctionIdentifier("hamming_bucket_pairs"),
      new ExpressionInfo(classOf[HammingBucketPairs].getName,
        "hamming_bucket_pairs"),
      (exprs: Seq[Expression]) => HammingBucketPairs(exprs.head,
        exprs(1), exprs(2).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
      (exprs: Seq[Expression]) => NgramHashes(exprs.head,
        exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs.head, exprs(1))))
    // tier-c Catalyst extensions: optimizer rewrites + the native as-of
    // physical operator (see graft.plans). PkFkJoinElimination is NOT
    // injected — it is result-changing without declared constraints and
    // stays opt-in via ConstraintCatalog.
    ext.injectOptimizerRule(_ => graft.plans.RegexExistenceRewrite)
    ext.injectOptimizerRule(_ => graft.plans.DisjunctiveJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
