package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native MinHash signature: `minhash_sig(shingles)` over a doc's shingle
  * array → `array<long>(16)` of permutation minima.
  *
  * Replaces explode → md5 → conv(hex, 16, 10) → 16-column min aggregate:
  * one scan-local pass per doc, no per-shingle row materialization, no
  * hex round-trip, no aggregate exchange. Values are bit-identical to
  * the replaced chain and the DuckDB twin: shingle hash h = first 12 hex
  * digits of md5 (= first 6 digest bytes big-endian, < 2^48), minima of
  * (A_k·h + B_k) mod (2^61−1) in plain long arithmetic (A_k < 2^15
  * keeps every product below 2^63 — no overflow, no sign issues).
  *
  * Returns null for an empty shingle array — such docs produce zero
  * exploded rows in the aggregate form and must stay absent from the
  * signature table (callers filter nulls).
  */
case class MinhashSigExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(sh: Any): Any =
    MinhashOps.signature(sh.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resTerm = ctx.freshName("sig")
    nullSafeCodeGen(ctx, ev, sh =>
      s"""org.apache.spark.sql.catalyst.util.GenericArrayData $resTerm =
         |  graft.functions.MinhashOps.signature($sh);
         |if ($resTerm == null) { ${ev.isNull} = true; } else { ${ev.value} = $resTerm; }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

/** The shared permutation family — single source for the expression, the
  * column form, and the generated DuckDB oracle SQL. */
object MinhashOps {
  val P: Long = 2305843009213693951L // 2^61 − 1
  val A: Array[Long] = Array(
    14327, 25253, 9209, 30103, 17291, 5449, 28657, 12553,
    21841, 7919, 31259, 16411, 3571, 26993, 11311, 19937)
  val B: Array[Long] = Array(
    911, 104729, 68213, 7727, 49999, 15485863, 32452843, 982451653,
    86028121, 533000401, 613651369, 3093077, 179424673, 57885161, 715225739, 2038074743)

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  def signature(shingles: ArrayData): GenericArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val d = md5.get()
    val mins = new Array[Long](16)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      d.reset()
      val dig = d.digest(shingles.getUTF8String(i).getBytes)
      // first 12 hex digits = first 6 bytes big-endian (< 2^48)
      var h = 0L
      var j = 0
      while (j < 6) { h = (h << 8) | (dig(j) & 0xffL); j += 1 }
      var k = 0
      while (k < 16) {
        val v = (A(k) * h + B(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
