package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression for keccak-256 (SURVEY.md §2.8 / §7.3:
  * "a native Catalyst Expression (with doGenCode) beats a Scala UDF").
  * Stays inside whole-stage codegen — no UDF serialization boundary, no
  * row-at-a-time closure dispatch.
  */
case class Keccak256Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"keccak256 requires BINARY input, got ${child.dataType.simpleString}")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "keccak256"

  override protected def nullSafeEval(input: Any): Any =
    Keccak256.hash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Keccak256.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Keccak256Expr =
    copy(child = newChild)
}

/** Registration of graft's SQL surface.
  *
  * Two paths: [[GraftExtensions]] for
  * `spark.sql.extensions=graft.functions.GraftExtensions` (cluster config),
  * and [[GraftFunctions.register]] for an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("keccak256"),
      new ExpressionInfo(classOf[Keccak256Expr].getName, "keccak256"),
      (exprs: Seq[Expression]) => Keccak256Expr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("vec_nearest"),
      new ExpressionInfo(classOf[VecNearest].getName, "vec_nearest"),
      (exprs: Seq[Expression]) => VecNearest(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketExpr].getName, "lsh_bucket"),
      (exprs: Seq[Expression]) => LshBucketExpr(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("parse_raw_tx"),
      new ExpressionInfo(classOf[ParseRawTxExpr].getName, "parse_raw_tx"),
      (exprs: Seq[Expression]) => ParseRawTxExpr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("raw_tx_hash"),
      new ExpressionInfo(classOf[RawTxHashExpr].getName, "raw_tx_hash"),
      (exprs: Seq[Expression]) => RawTxHashExpr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "word_ngrams"),
      (exprs: Seq[Expression]) => WordNgramsExpr(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgramsExpr].getName, "char_ngrams"),
      (exprs: Seq[Expression]) => CharNgramsExpr(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("char_ngram_codes"),
      new ExpressionInfo(classOf[CharNgramCodesExpr].getName, "char_ngram_codes"),
      (exprs: Seq[Expression]) => CharNgramCodesExpr(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("simhash_chunks"),
      new ExpressionInfo(classOf[SimhashChunksAgg].getName, "simhash_chunks"),
      (exprs: Seq[Expression]) => SimhashChunksAgg(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("winnow_sel"),
      new ExpressionInfo(classOf[WinnowSelExpr].getName, "winnow_sel"),
      (exprs: Seq[Expression]) => WinnowSelExpr(exprs.head, exprs(1), exprs(2))))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => MinhashSigExpr(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("vec_pack"),
      new ExpressionInfo(classOf[VecPack].getName, "vec_pack"),
      (exprs: Seq[Expression]) => VecPack(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("vec_unpack_float"),
      new ExpressionInfo(classOf[VecUnpackFloat].getName, "vec_unpack_float"),
      (exprs: Seq[Expression]) => VecUnpackFloat(exprs.head)))
  }
}

object GraftFunctions {
  /** Sessions already registered: callers invoke [[register]] defensively
    * from every query entry point, and re-registering the same dozen
    * functions spams a `SimpleFunctionRegistry: function … replaced` WARN
    * per function per call. Weak keys so a stopped session can GC. */
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Make `keccak256(binary)`, `vec_dot(arr, arr)` and
    * `parse_raw_tx(hex string)` available to `spark.sql` / `expr` in an
    * existing session (idempotent; once per session). */
  def register(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      registerAll(spark)

  private def registerAll(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "keccak256", exprs => Keccak256Expr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDot(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_nearest", exprs => VecNearest(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lsh_bucket", exprs => LshBucketExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "parse_raw_tx", exprs => ParseRawTxExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "raw_tx_hash", exprs => RawTxHashExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngrams", exprs => WordNgramsExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_ngrams", exprs => CharNgramsExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_ngram_codes",
      exprs => CharNgramCodesExpr(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedIntersectCount(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_chunks", exprs => SimhashChunksAgg(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_sel",
      exprs => WinnowSelExpr(exprs.head, exprs(1), exprs(2)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinhashSigExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_pack", exprs => VecPack(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_unpack_float", exprs => VecUnpackFloat(exprs.head), "scala_udf")
  }
}
