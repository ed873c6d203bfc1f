package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** P1 — the core projection (SURVEY.md §2.2): raw RLP bytes → 15-column
  * transaction summary, as a native Catalyst expression over [[EthTx]].
  *
  * This is the one genuinely custom piece of the engine (§2.8): RLP +
  * keccak + secp256k1 cannot be expressed with built-ins. Everything
  * downstream of it (dedup, joins, filters) stays declarative so Catalyst
  * can still prune/push around the parse boundary — the merge job runs
  * cheap hash-dedup and blacklist anti-join BEFORE this projection
  * (SURVEY.md §4.1 design rule).
  *
  * §2.8 end state: the projection is a codegen'd `Expression`
  * ([[ParseRawTxExpr]]) writing straight to an `InternalRow` — no UDF
  * encoder round-trip (catalyst → String/Option/case class → catalyst),
  * and undecodable input is a null-safe null instead of an encoder None.
  */
object ParseTx {

  /** Row-shaped parse result; `reason` is the F2 validation verdict
    * (null = valid), `ok` is false when the bytes are not decodable at all. */
  final case class TxSummaryCols(
      hash: String, chainId: String, txType: Long, from: String, to: String,
      value: String, nonce: String, gas: String, gasPrice: String,
      gasTipCap: String, gasFeeCap: String, dataSize: Long, data4Bytes: String,
      rawTx: Array[Byte], fromValid: Boolean, hasBlobSidecar: Boolean,
      reason: Option[String])

  def parseHex(rawHex: String): Option[TxSummaryCols] =
    try {
      val p = EthTx.decodeHex(rawHex)
      Some(TxSummaryCols(
        p.hash, p.chainId, p.txType, p.from, p.to, p.value, p.nonce, p.gas,
        p.gasPrice, p.gasTipCap, p.gasFeeCap, p.dataSize, p.data4Bytes,
        p.rawTx, p.fromValid, p.hasBlobSidecar, EthTx.validationReason(p)))
    } catch { case _: Exception => None }

  /** Result schema of parse_raw_tx — field order and nullability mirror
    * [[TxSummaryCols]] exactly (primitives non-nullable), so the expression
    * is a drop-in for the former UDF. */
  val summarySchema: StructType = StructType(Seq(
    StructField("hash", StringType), StructField("chainId", StringType),
    StructField("txType", LongType, nullable = false),
    StructField("from", StringType), StructField("to", StringType),
    StructField("value", StringType), StructField("nonce", StringType),
    StructField("gas", StringType), StructField("gasPrice", StringType),
    StructField("gasTipCap", StringType), StructField("gasFeeCap", StringType),
    StructField("dataSize", LongType, nullable = false),
    StructField("data4Bytes", StringType), StructField("rawTx", BinaryType),
    StructField("fromValid", BooleanType, nullable = false),
    StructField("hasBlobSidecar", BooleanType, nullable = false),
    StructField("reason", StringType)))

  /** Codegen entry point: parse straight into an InternalRow. Null on
    * undecodable input (the F3 skip contract). */
  def evalInternalRow(raw: UTF8String): InternalRow =
    if (raw == null) null
    else parseHex(raw.toString) match {
      case Some(p) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(p.hash), UTF8String.fromString(p.chainId),
        p.txType, UTF8String.fromString(p.from), UTF8String.fromString(p.to),
        UTF8String.fromString(p.value), UTF8String.fromString(p.nonce),
        UTF8String.fromString(p.gas), UTF8String.fromString(p.gasPrice),
        UTF8String.fromString(p.gasTipCap), UTF8String.fromString(p.gasFeeCap),
        p.dataSize, UTF8String.fromString(p.data4Bytes), p.rawTx,
        p.fromValid, p.hasBlobSidecar,
        p.reason.map(UTF8String.fromString).orNull))
      case None => null
    }

  /** Codegen entry point of [[RawTxHashExpr]]: the tx hash alone, by the
    * same RLP decode and keccak as [[parseHex]] without sender recovery,
    * so it is null on exactly the inputs [[parseHex]] rejects. */
  def evalHash(raw: UTF8String): UTF8String =
    try UTF8String.fromString(EthTx.decodeHex(raw.toString, recover = false).hash)
    catch { case _: Exception => null }

  /** parse_raw_tx(rawHex STRING) → STRUCT(...); null on undecodable input.
    * Resolves through the function registry (registration is idempotent
    * and plan construction always runs on the driver with an active
    * session), so the planned expression is the codegen [[ParseRawTxExpr]]. */
  def parse_raw_tx(c: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(GraftFunctions.register)
    call_function("parse_raw_tx", c)
  }

  /** raw_tx_hash(rawHex STRING) → STRING: the tx hash without sender
    * recovery, as the codegen [[RawTxHashExpr]]; null on undecodable input. */
  def raw_tx_hash(c: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(GraftFunctions.register)
    call_function("raw_tx_hash", c)
  }

  /** `kernel` as a generated column, evaluated once per row, keeping only
    * the rows whose value passes `keep`. A plain `withColumn` + `filter`
    * re-runs the kernel in the pushed-down Filter: Catalyst copies the
    * alias into the predicate, and a generator is not inlined that way. */
  def evalOnce(kernel: Column, keep: Column => Column = _.isNotNull): Column =
    explode(filter(array(kernel), keep))

  /** The merge-job projection: (timestamp_ms, hash, raw hex) rows →
    * TxSummaryEntry-shaped DataFrame (reference parquet schema,
    * common/txsummary.go:42-69). Undecodable rows are dropped (they go to
    * the trash side-output upstream). */
  def project(raw: DataFrame, tsCol: String = "timestamp_ms",
      rawHexCol: String = "raw_tx_hex"): DataFrame = {
    raw
      .withColumn("p", evalOnce(parse_raw_tx(col(rawHexCol))))
      .select(
        col(tsCol).as("timestamp"),
        col("p.hash").as("hash"),
        col("p.chainId").as("chainId"),
        col("p.txType").as("txType"),
        col("p.from").as("from"),
        col("p.to").as("to"),
        col("p.value").as("value"),
        col("p.nonce").as("nonce"),
        col("p.gas").as("gas"),
        col("p.gasPrice").as("gasPrice"),
        col("p.gasTipCap").as("gasTipCap"),
        col("p.gasFeeCap").as("gasFeeCap"),
        col("p.dataSize").as("dataSize"),
        col("p.data4Bytes").as("data4Bytes"),
        col("p.rawTx").as("rawTx"),
        col("p.reason").as("reason"))
  }
}

/** Native codegen expression for the P1 projection: stays inside
  * whole-stage codegen (no UDF serialization boundary) and is null-safe —
  * undecodable bytes yield a null struct, which the generated code
  * propagates without an encoder in the loop. */
case class ParseRawTxExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_raw_tx requires STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ParseTx.summarySchema
  override def nullable: Boolean = true // undecodable input → null struct
  override def prettyName: String = "parse_raw_tx"

  override protected def nullSafeEval(input: Any): Any =
    ParseTx.evalInternalRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.ParseTx.evalInternalRow($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ParseRawTxExpr =
    copy(child = newChild)
}

/** The dedup key of the collector's decode: the tx hash without sender
  * recovery ([[ParseTx.evalHash]]); null on undecodable input. */
case class RawTxHashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"raw_tx_hash requires STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true // undecodable input → null
  override def prettyName: String = "raw_tx_hash"

  override protected def nullSafeEval(input: Any): Any =
    ParseTx.evalHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.ParseTx.evalHash($c);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): RawTxHashExpr =
    copy(child = newChild)
}

