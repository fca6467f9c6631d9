package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Document-fingerprinting primitive (north-star text-analysis op): a
 * polynomial rolling hash (Rabin–Karp, base 31 over UTF-8 bytes, mod 2^64 by
 * natural Long wraparound) as a NATIVE Catalyst expression with full
 * whole-stage codegen — demonstrating the preferred extension tier of
 * SURVEY §7.3 (native Expression > UDF). Equivalent work as a Scala UDF
 * would box every row and break the codegen stage.
 */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 31L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $input.getBytes();
         |long ${ev.value}_acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  ${ev.value}_acc = ${ev.value}_acc * 31L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Registration helper: temp-functions for a live session. */
object GraftFunctions {
  /** Idempotent: a session built with [[GraftExtensions]]
    * (GraftExtensions.scala; every `graft.GraftSession` is) or one this
    * method already visited is left untouched, so repeated calls from
    * operator code neither re-register nor warn. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def ensure(name: String,
               builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    ensure("rolling_hash", exprs => RollingHash(exprs.head))
    ensure("vec_dot", exprs => DotProduct(exprs.head, exprs(1)))
    ensure("cosine_sim", exprs => CosineSim(exprs.head, exprs(1)))
    ensure("simhash64", exprs => SimHash64(exprs.head))
    ensure("minhash_sig", exprs => MinHashSig(exprs.head,
      exprs(1).eval().asInstanceOf[Int]))
    ensure("sorted_intersect_size",
      exprs => SortedIntersectSize(exprs.head, exprs(1)))
    ensure("morton_key", exprs => MortonKey(exprs.head, exprs(1)))
    ensure("bloom_contains", exprs => BloomMightContain(exprs.head,
      exprs(1).eval().asInstanceOf[Array[Byte]]))
    ensure("hamming_bucket_pairs", exprs => HammingBucketPairs(exprs.head,
      exprs(1), exprs(2).eval().asInstanceOf[Int]))
    ensure("ngram_hashes", exprs => NgramHashes(exprs.head,
      exprs(1).eval().asInstanceOf[Int]))
    ensure("jaro_winkler", exprs => JaroWinkler(exprs.head, exprs(1)))
  }
}
