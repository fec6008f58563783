package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd vector arithmetic over `array<float>` embedding columns
  * (SURVEY.md §4 "potentially-custom pieces": the dot-product Expression
  * that replaces the interpreted higher-order-function form once
  * similarity ops are hot — Spark's lambda functions don't participate in
  * whole-stage codegen, so `aggregate(zip_with(...))` costs a closure call
  * per element; these compile to a tight primitive loop instead).
  *
  * Math contract: identical operation order to the HOF form (ascending
  * index, double accumulate) so results are bit-identical and the DuckDB
  * oracles keep matching.
  *
  * Null contract: null input array → null; elements are assumed non-null
  * (embedding vectors), matching the HOF behavior on such data.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<float> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch -> null, matching aggregate(zip_with(...)) where the
    // shorter side null-pads and poisons the sum (the documented contract)
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an array<float>, same double-accumulate order as the HOF
  * form. */
case class VectorNorm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_norm needs array<float>, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
        int $n = $a.numElements();
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $v = (double) $a.getFloat($i);
          $acc += $v * $v;
        }
        ${ev.value} = java.lang.Math.sqrt($acc);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

/** Per-row int8-quantization statistics in ONE pass over the vector:
  * struct(scale = max|x|/127, q_sum = Σ round(x·127/mx), q_sqsum = Σ round²).
  * The HOF formulation (aggregate over transform) costs two interpreted
  * closure calls per ELEMENT; this is one eval per ROW (CodegenFallback —
  * the loop itself is compiled JVM code). Rounding is BigDecimal HALF_UP,
  * bit-identical to Spark's `round` (and DuckDB's away-from-zero for these
  * magnitudes). Zero/empty vectors → null, matching the guarded-division
  * HOF form. */
case class VectorQuantStats(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("scale", DoubleType),
    org.apache.spark.sql.types.StructField("q_sum", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("q_sqsum", org.apache.spark.sql.types.LongType)))

  // returns null for zero/degenerate vectors even when the input column is
  // non-nullable — without this override Catalyst would trust
  // child.nullable and elide the null checks downstream
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_quant_stats needs array<float>, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      // null or non-finite elements make the quantization undefined —
      // null out the row (the HOF form null-propagates the same inputs)
      if (x.isNullAt(i)) return null
      val v = math.abs(x.getFloat(i).toDouble)
      if (!java.lang.Double.isFinite(v)) return null
      if (v > mx) mx = v
      i += 1
    }
    if (mx == 0.0) return null
    var qs = 0L
    var qq = 0L
    i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble * 127.0 / mx
      val q = java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      qs += q
      qq += q * q
      i += 1
    }
    InternalRow(mx / 127.0, qs, qq)
  }

  override protected def withNewChildInternal(newChild: Expression): VectorQuantStats =
    copy(child = newChild)
}

/** Packed sign-random-projection signature in ONE fused loop: bit b of
  * the result is set iff `dot(vec, planes(b)) >= 0`. The composed
  * formulation (nBits separate dot expressions folded through
  * `when(...).otherwise(...)` + `bitwiseOR`) builds an expression tree
  * whose generated code grows with nBits×dim — at 12 tables × 6 bits it
  * is 72 inlined loops per row, large enough to threaten the whole-stage
  * codegen method limits; this is one tight 2-level loop over a plain
  * `float[][]` (no per-plane ArrayData indirection).
  *
  * Math contract: same ascending-index double accumulation as
  * [[VectorDot]], so signatures are bit-identical to the composed form
  * (and to the DuckDB `list_dot_product` oracle replay). Null or
  * dimension-mismatched vectors → null (no signature — callers filter
  * null vectors before signing). */
case class SignProjection(child: Expression, planes: Seq[Seq[Float]])
    extends UnaryExpression {

  require(planes.nonEmpty && planes.size <= 63,
    s"need 1..63 planes, got ${planes.size}")
  require(planes.forall(_.size == planes.head.size),
    "planes must share one dimension")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_projection needs array<float>, got ${other.sql}")
  }

  @transient private lazy val mat: Array[Array[Float]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val dim = mat(0).length
    if (x.numElements() != dim) return null
    var sig = 0L
    var b = 0
    while (b < mat.length) {
      val p = mat(b)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += x.getFloat(i).toDouble * p(i).toDouble; i += 1 }
      if (acc >= 0.0) sig |= 1L << b
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("planes", mat, "float[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim")
      val sig = ctx.freshName("sig")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      s"""
        int $dim = $matRef[0].length;
        if ($a.numElements() != $dim) {
          ${ev.isNull} = true;
        } else {
          long $sig = 0L;
          for (int $b = 0; $b < $matRef.length; $b++) {
            float[] $p = $matRef[$b];
            double $acc = 0.0;
            for (int $i = 0; $i < $dim; $i++) {
              $acc += ((double) $a.getFloat($i)) * ((double) $p[$i]);
            }
            if ($acc >= 0.0) $sig |= 1L << $b;
          }
          ${ev.value} = $sig;
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignProjection =
    copy(child = newChild)
}

/** All product-quantization subspace codes in ONE fused loop: element m
  * of the result is the index of the nearest `codebooks(m)` entry to the
  * vector's m-th contiguous `subDim` slice, by squared L2 with min-index
  * tiebreak. The composed formulation (per subspace: an `array(...)` of K
  * round(|c|²−2·dot) scores + array_min + array_position) builds
  * numSub×K inlined dot products per row — at 8×16 that is 128 loops,
  * which blows Janino's method-size limit and silently drops the whole
  * projection out of whole-stage codegen; this is one tight 3-level loop
  * over a plain `float[][][]` (the [[SignProjection]] fix applied to PQ).
  *
  * Math contract: identical to the composed form — the |a|²-free
  * expansion score = round(|c|² − 2·a·c, 9) with [[VectorDot]]-order
  * double accumulation and Spark `round` rounding
  * (BigDecimal.valueOf → setScale(9, HALF_UP)), strict `<` argmin =
  * first-minimum-index tiebreak — so assigned codes are bit-identical to
  * the previous expression tree and to the DuckDB
  * `ORDER BY round(...) ASC, j LIMIT 1` oracle replay
  * (`Similarity.pqCodeExpr` keeps the composed form as the spec'd
  * reference). Null or dimension-mismatched vectors → null. */
case class PqAssign(child: Expression, codebooks: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_assign needs at least one non-empty codebook")
  require(codebooks.flatten.forall(_.size == codebooks.head.head.size),
    "pq_assign codebook entries must share one sub-dimension")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_assign needs array<float>, got ${other.sql}")
  }

  @transient private lazy val cb: Array[Array[Array[Float]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  // |c|² per (subspace, code), same ascending float→double accumulation
  // as the dotLocal literals in the composed form
  @transient private lazy val cn: Array[Array[Double]] =
    cb.map(_.map { c =>
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
      acc
    })

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val subDim = cb(0)(0).length
    if (x.numElements() != cb.length * subDim) return null
    val codes = new Array[Int](cb.length)
    var m = 0
    while (m < cb.length) {
      val book = cb(m)
      val base = m * subDim
      var best = Double.PositiveInfinity
      var bestIdx = -1
      var c = 0
      while (c < book.length) {
        val cv = book(c)
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          acc += x.getFloat(base + i).toDouble * cv(i).toDouble
          i += 1
        }
        val score = java.math.BigDecimal.valueOf(cn(m)(c) - 2.0 * acc)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
        if (score < best) { best = score; bestIdx = c }
        c += 1
      }
      codes(m) = bestIdx
      m += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", cb, "float[][][]")
    val cnRef = ctx.addReferenceObj("codeNorms", cn, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val subDim = ctx.freshName("subDim")
      val codes = ctx.freshName("codes")
      val m = ctx.freshName("m")
      val book = ctx.freshName("book")
      val base = ctx.freshName("base")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val c = ctx.freshName("c")
      val cv = ctx.freshName("cv")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val score = ctx.freshName("score")
      s"""
        int $subDim = $cbRef[0][0].length;
        if ($a.numElements() != $cbRef.length * $subDim) {
          ${ev.isNull} = true;
        } else {
          int[] $codes = new int[$cbRef.length];
          for (int $m = 0; $m < $cbRef.length; $m++) {
            float[][] $book = $cbRef[$m];
            int $base = $m * $subDim;
            double $best = Double.POSITIVE_INFINITY;
            int $bestIdx = -1;
            for (int $c = 0; $c < $book.length; $c++) {
              float[] $cv = $book[$c];
              double $acc = 0.0;
              for (int $i = 0; $i < $subDim; $i++) {
                $acc += ((double) $a.getFloat($base + $i)) * ((double) $cv[$i]);
              }
              double $score = java.math.BigDecimal.valueOf($cnRef[$m][$c] - 2.0 * $acc)
                .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue();
              if ($score < $best) { $best = $score; $bestIdx = $c; }
            }
            $codes[$m] = $bestIdx;
          }
          ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray($codes);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqAssign =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column API for the codegen'd expressions. */
  def vecDot(a: Column, b: Column): Column =
    GraftSqlBridge.column(VectorDot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def vecNorm(a: Column): Column =
    GraftSqlBridge.column(VectorNorm(GraftSqlBridge.expression(a)))

  /** struct(scale, q_sum, q_sqsum) int8-quantization stats, one pass. */
  def vecQuantStats(a: Column): Column =
    GraftSqlBridge.column(VectorQuantStats(GraftSqlBridge.expression(a)))

  /** Packed sign-projection signature over a plane matrix, one fused
    * loop per row. */
  def signProjection(vec: Column, planes: Seq[Array[Float]]): Column =
    GraftSqlBridge.column(SignProjection(
      GraftSqlBridge.expression(vec), planes.map(_.toSeq)))

  /** All PQ subspace codes (array<int>, one per codebook) in one fused
    * loop per row. */
  def pqAssign(vec: Column, codebooks: Seq[Seq[Array[Float]]]): Column =
    GraftSqlBridge.column(PqAssign(
      GraftSqlBridge.expression(vec), codebooks.map(_.map(_.toSeq))))
}
