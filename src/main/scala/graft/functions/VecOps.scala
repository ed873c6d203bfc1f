package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression for the embedding dot product (SURVEY.md
  * §2.8 preference order: a codegen'd `Expression` beats a Scala UDF and
  * beats interpreted higher-order lambdas — `aggregate`/`zip_with`
  * lambdas run interpreted per element, which measured ~17× slower than
  * codegen in r1). Operates array-native on `array<float>` /
  * `array<double>` columns: no explode, no shuffle, stays inside
  * whole-stage codegen.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmin in one codegen pass: `vec_nearest(e, cm)` with
  * cm an array<struct<c: long, m: array<float|double>>> returns the c
  * minimizing (d², c) lexicographically, where d² is evaluated with the
  * IDENTICAL floating-point operation order as the vec_dot composition it
  * replaces — `vec_dot(e,e) − 2.0·vec_dot(e,m) + vec_dot(m,m)`, each dot
  * accumulated in index order, combined left-associatively — and the
  * comparison replicates Spark's struct-min ordering exactly
  * (SQLOrderingUtil.compareDoubles: `==` first so −0.0 ties 0.0, then
  * java.lang.Double.compare so NaN sorts largest; ties fall to the
  * smaller c). NULL on an empty centroid array.
  *
  * This replaces the `crossJoin(broadcast(cents)) → groupBy(vec_id) →
  * min(struct(d2, c))` assignment shape: min over a struct is not
  * hash-aggregatable (struct buffers fail UnsafeRow mutability), so every
  * assignment SORTED its n·k scored expansion; the per-row loop needs no
  * expansion, no sort, and no exchange at all. */
case class VecNearest(left: Expression, right: Expression) extends BinaryExpression {

  private def mOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (lt, ArrayType(StructType(fields), _))
      if mOk(lt) && fields.length == 2 && fields(0).dataType == LongType &&
        mOk(fields(1).dataType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_nearest requires (array<float|double>, array<struct<long, array<float|double>>>), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_nearest"

  private def eIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def mIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(1).dataType
      .asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecNearestOps.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      eIsFloat, mIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Long ${ev.value}Box =
         |  graft.functions.VecNearestOps.compute($a, $b, $eIsFloat, $mIsFloat);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Box.longValue(); }
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecNearest =
    copy(left = newLeft, right = newRight)
}

/** The argmin loop for [[VecNearest]] (static so generated code calls
  * straight in). */
object VecNearestOps {
  def compute(e: ArrayData, cm: ArrayData,
      ef: Boolean, mf: Boolean): java.lang.Long = {
    val k = cm.numElements()
    var have = false
    var bestD = 0.0
    var bestC = 0L
    var j = 0
    while (j < k) {
      // skip null entries / null m arrays instead of NPE-failing the task
      // (ADVICE r21): internal call sites build cm via collect_list(struct)
      // and cannot produce them, but vec_nearest is a registered session
      // SQL function reachable with arbitrary input — degenerate inputs
      // degrade like the replaced min(struct) shape, they don't crash.
      if (cm.isNullAt(j)) { j += 1 }
      else {
      val entry = cm.getStruct(j, 2)
      if (entry.isNullAt(0) || entry.isNullAt(1)) { j += 1 }
      else {
      val c = entry.getLong(0)
      val m = entry.getArray(1)
      // the three dots, each accumulated in index order like VecDot
      val ne = e.numElements()
      val nm = m.numElements()
      val nem = math.min(ne, nm)
      var ee = 0.0
      var i = 0
      while (i < ne) {
        val x = if (ef) e.getFloat(i).toDouble else e.getDouble(i)
        ee += x * x; i += 1
      }
      var em = 0.0
      i = 0
      while (i < nem) {
        val x = if (ef) e.getFloat(i).toDouble else e.getDouble(i)
        val y = if (mf) m.getFloat(i).toDouble else m.getDouble(i)
        em += x * y; i += 1
      }
      var mm = 0.0
      i = 0
      while (i < nm) {
        val y = if (mf) m.getFloat(i).toDouble else m.getDouble(i)
        mm += y * y; i += 1
      }
      val d2 = ee - 2.0 * em + mm
      if (!have) { have = true; bestD = d2; bestC = c }
      else {
        // Spark's double ordering: == first (−0.0 ties 0.0), then
        // java.lang.Double.compare (NaN largest); struct tie falls to c
        val cmp = if (d2 == bestD) 0 else java.lang.Double.compare(d2, bestD)
        if (cmp < 0 || (cmp == 0 && c < bestC)) { bestD = d2; bestC = c }
      }
      j += 1
      } }
    }
    if (have) java.lang.Long.valueOf(bestC) else null
  }
}

/** Native Catalyst expression computing a random-hyperplane LSH bucket id
  * in one codegen pass over the embedding array: `lsh_bucket(emb, planes)`
  * → LONG whose low `planes` bits are the sign pattern of `planes` sparse
  * ternary projections. The hyperplane weights are derived from a
  * splitmix64 avalanche of (plane, dim) — deterministic and
  * data-independent, so the query side and the corpus side agree with no
  * stored model and no shuffle: bucketing is a pure narrow map. This is
  * the 100 TB shape — the bucket id becomes the candidate-join key and is
  * the ONLY thing that shuffles.
  */
case class LshBucketExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) if right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires (array<float|double>, int), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(arr: Any, planes: Any): Any =
    LshOps.compute(arr.asInstanceOf[ArrayData], planes.asInstanceOf[Int], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) =>
      s"${ev.value} = graft.functions.LshOps.compute($a, $p, $isFloat);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBucketExpr =
    copy(left = newLeft, right = newRight)
}

/** Hyperplane weights + bucket loop for [[LshBucketExpr]] (plain static
  * methods so generated code can call straight in, like Keccak256.hash). */
object LshOps {
  /** Sparse ternary weight in {-1, 0, 1} for (plane, dim): splitmix64 of
    * the packed pair, reduced mod 3. Deterministic on every executor. */
  def weight(plane: Int, dim: Int): Int = {
    var z = ((plane.toLong << 32) | (dim & 0xffffffffL)) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    java.lang.Long.remainderUnsigned(z, 3L).toInt - 1
  }

  def compute(arr: ArrayData, planes: Int, isFloat: Boolean): Long = {
    val n = arr.numElements()
    var bucket = 0L
    var h = 0
    while (h < planes) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val w = weight(h, i)
        if (w != 0) {
          val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          acc += v * w
        }
        i += 1
      }
      if (acc >= 0) bucket |= 1L << h
      h += 1
    }
    bucket
  }
}

/** Native Catalyst expression counting the intersection size of two
  * SORTED int arrays (set semantics — callers pass `array_sort`ed
  * distinct-element arrays, e.g. the ngram-jaccard per-doc shingle-id
  * sets). A single merge walk: O(|a|+|b|), zero allocation — versus
  * `array_intersect`, which builds a hash set AND materializes the
  * intersection array per row only to take its size. On the near-dup
  * verify path this runs once per candidate pair, so the per-row
  * constant is the whole cost. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires two array<int> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SetOps.sortedIntersectCount(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetOps.sortedIntersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Merge-walk helper for [[SortedIntersectCount]] (static so generated
  * code calls straight in, like Keccak256.hash / LshOps.compute). */
object SetOps {
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Pack a float/double embedding array into its raw little-endian bits
  * (BINARY), codegen'd. Exists for the object-encoder boundary: a typed
  * `groupByKey`/`mapPartitions` over an `array<float>` column
  * deserializes it via MapObjects — Float.valueOf per ELEMENT, ~10⁹
  * boxed floats in the 10 M probed bootstrap's pair exchange, a
  * GC-overhead OOM (r15) — while a primitive byte array crosses the same
  * boundary as one copy. floatToRawIntBits round-trips bit-exactly
  * (NaN payloads included), so packed pipelines produce identical
  * results. */
case class VecPack(child: Expression) extends UnaryExpression {
  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_pack requires array<float|double>, got ${child.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "vec_pack"
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Null ELEMENTS are rejected loudly (ADVICE r15): parquet-read
    * embedding columns often carry containsNull = true in the schema
    * with no actual nulls, so the type check admits them — but a real
    * null element has no raw-bits representation and would silently
    * pack as 0.0 where the transform(cast) path this replaces preserved
    * the null. Embeddings are non-null by construction everywhere this
    * runs; a null here is upstream corruption, not data. */
  private def nullElement(i: Int): Nothing = throw new IllegalArgumentException(
    s"vec_pack: null element at index $i (embedding arrays must be non-null)")

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (isFloat) {
      val bb = java.nio.ByteBuffer.allocate(n * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) nullElement(i)
        bb.putFloat(a.getFloat(i)); i += 1
      }
      bb.array()
    } else {
      val bb = java.nio.ByteBuffer.allocate(n * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) nullElement(i)
        bb.putDouble(a.getDouble(i)); i += 1
      }
      bb.array()
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (get, put, width) =
      if (isFloat) ("getFloat", "putFloat", 4) else ("getDouble", "putDouble", 8)
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val bb = ctx.freshName("bb")
      s"""
         |int $n = $a.numElements();
         |java.nio.ByteBuffer $bb = java.nio.ByteBuffer.allocate($n * $width)
         |  .order(java.nio.ByteOrder.LITTLE_ENDIAN);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "vec_pack: null element at index " + $i +
         |      " (embedding arrays must be non-null)");
         |  }
         |  $bb.$put($a.$get($i));
         |}
         |${ev.value} = $bb.array();
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): VecPack =
    copy(child = newChild)
}

/** Inverse of [[VecPack]] for the float case: BINARY (little-endian raw
  * float bits) → `array<float>`, codegen'd — lets a packed pipeline
  * restore the column schema without routing the array back through an
  * object encoder. */
case class VecUnpackFloat(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_unpack_float requires binary, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "vec_unpack_float"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / 4
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = bb.getFloat(i * 4); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val bb = ctx.freshName("bb")
      val out = ctx.freshName("out")
      s"""
         |int $n = $b.length / 4;
         |java.nio.ByteBuffer $bb = java.nio.ByteBuffer.wrap($b)
         |  .order(java.nio.ByteOrder.LITTLE_ENDIAN);
         |float[] $out = new float[$n];
         |for (int $i = 0; $i < $n; $i++) { $out[$i] = $bb.getFloat($i * 4); }
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): VecUnpackFloat =
    copy(child = newChild)
}

object VecOps {
  /** Column API: dot product of two embedding columns. Requires
    * [[GraftFunctions.register]] (or the GraftExtensions session
    * extension) on the session, which is idempotent. */
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Column API: argmin-(d², c) over an array<struct<c, m>> centroid set
    * — the min(struct(d2, c)) assignment without the n·k expansion. */
  def vec_nearest(e: Column, cm: Column): Column = call_function("vec_nearest", e, cm)

  /** Column API: raw-bits pack / unpack for the object-encoder boundary. */
  def vec_pack(a: Column): Column = call_function("vec_pack", a)
  def vec_unpack_float(a: Column): Column = call_function("vec_unpack_float", a)

  /** Column API: random-hyperplane LSH bucket id (low `planes` bits). */
  def lsh_bucket(emb: Column, planes: Column): Column =
    call_function("lsh_bucket", emb, planes)

  /** Column API: |a ∩ b| of two sorted distinct int arrays. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
}
