package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native codegen dot product over two float-array columns.
 *
 * This is the one hot scalar kernel in the LLM-ops battery (cosine ANN
 * and pair similarity score millions of 64-dim vectors). The
 * `zip_with`+`aggregate` higher-order-function formulation is
 * CodegenFallback — every element allocates lambda variables
 * interpretively — and profiled ~16s of the sf0.1 bench on
 * q_cosine_pairs alone. This expression whole-stage-codegens to a tight
 * primitive loop (~20x less per-element work), keeping the SAME
 * left-to-right double-accumulation order, so results are
 * bit-identical to the HOF version and to the DuckDB oracle's
 * list_dot_product over double-cast lists.
 *
 * Null semantics mirror the HOF formulation it replaces: null array →
 * null; any null element or a length mismatch → null (zip_with pads the
 * shorter side with null, which poisons the HOF sum).
 */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Column-level API for the graft vector kernels (any session; the
 * SQL names live in [[graft.GraftExtensions]]). */
object VectorFunctions {

  /** dot(a, b) over array<float> columns. */
  def vecDot(a: Column, b: Column): Column = column(FloatVecDot(expr(a), expr(b)))

  /** cosine(a, b) over array<float> columns. */
  def vecCosine(a: Column, b: Column): Column =
    column(FloatVecCosine(expr(a), expr(b)))

  /** Quantized coarse cosine: int8-quantize `a`, dot against the
   * pre-quantized probe `qp` with self-dot `pqq`. */
  def int8CoarseCos(a: Column, qp: Column, pqq: Column): Column =
    column(Int8CoarseCos(expr(a), expr(qp), expr(pqq)))
}

/**
 * Single-pass codegen cosine similarity over two float-array columns.
 *
 * The composed form `vec_dot(a,b) / (sqrt(vec_dot(a,a)) *
 * sqrt(vec_dot(b,b)))` traverses both arrays three times; this kernel
 * folds the three accumulators into ONE loop and then applies exactly
 * the same final expression, with each accumulator keeping the same
 * left-to-right double-accumulation order — so the result is
 * bit-identical to the composed form and to the DuckDB oracle, while
 * doing a third of the memory traffic on the hot ANN/pair-scoring
 * paths. Null/length-mismatch semantics and the zero-norm case (IEEE
 * division, no guard) are identical to the composed form.
 */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_cosine expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecCosine =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_cosine"
}

/**
 * Fused int8-quantized cosine for the two-stage ANN coarse scan
 * (q_knn_rerank stage 1): quantize the float vector symmetrically
 * (scale = 127 / max|x|, the SQ8 shape), dot it against the
 * pre-quantized probe, and reconstruct the quantized cosine — one
 * codegen loop per row instead of the four CodegenFallback
 * higher-order-function passes it replaces (transform → aggregate →
 * zip_with+aggregate → arithmetic), which profiled ~1.2 s of the sf0.1
 * bench on their own.
 *
 * Bit-parity contract (Int8KernelParitySpec pins it on the corpus plus
 * adversarial half-way vectors): every step reproduces the HOF
 * formulation exactly —
 *  - max|x| is a float max of float abs, cast to double once;
 *  - per-element rounding is Spark `round()`'s own path
 *    (BigDecimal.valueOf → HALF_UP), NOT Math.round, whose
 *    floor(x+0.5) disagrees on negative halves;
 *  - qq/sab are integer sums (order-free, exact);
 *  - the final divide/sqrt chain is the identical IEEE expression.
 * Null semantics: null array or null element → null; length mismatch →
 * null; zero norm on either side → 0.0 (the guard the query previously
 * spelled with `when`).
 */
case class Int8CoarseCos(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _), LongType) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int8_coarse_cos expects (array<float>, array<bigint>, bigint), got " +
        s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")
  }

  override def nullSafeEval(av: Any, qpv: Any, pqqv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val qp = qpv.asInstanceOf[ArrayData]
    val pqq = pqqv.asInstanceOf[Long]
    val n = a.numElements()
    if (n != qp.numElements()) return null
    var maxAbs = 0.0f
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = Math.abs(a.getFloat(i))
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val scale = if (maxAbs == 0.0f) 0.0 else 127.0 / maxAbs.toDouble
    var qq = 0L; var sab = 0L
    i = 0
    while (i < n) {
      if (qp.isNullAt(i)) return null
      // non-finite products quantize to 0: BigDecimal.valueOf REJECTS
      // NaN/Infinity with a NumberFormatException (unlike Spark's
      // round, which passes them through — but an int8 lattice has no
      // NaN to pass). A corrupt vector (NaN element, or an Inf that
      // zeroes the scale) coarse-scores 0 here and the exact rerank
      // stage, which sees the raw floats, decides its fate. (r18
      // review finding)
      val x = a.getFloat(i).toDouble * scale
      val q =
        if (java.lang.Double.isFinite(x))
          java.math.BigDecimal.valueOf(x)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        else 0L
      qq += q * q
      sab += q * qp.getLong(i)
      i += 1
    }
    if (qq == 0L || pqq == 0L) 0.0
    else sab.toDouble / (math.sqrt(qq.toDouble) * math.sqrt(pqq.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, qp, pqq) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val maxAbs = ctx.freshName("maxAbs")
      val v = ctx.freshName("v")
      val scale = ctx.freshName("scale")
      val qq = ctx.freshName("qq")
      val sab = ctx.freshName("sab")
      val q = ctx.freshName("q")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |if ($n != $qp.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  float $maxAbs = 0.0f;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    float $v = java.lang.Math.abs($a.getFloat($i));
         |    if ($v > $maxAbs) $maxAbs = $v;
         |  }
         |  if (!${ev.isNull}) {
         |    double $scale = ($maxAbs == 0.0f) ? 0.0 : 127.0 / ((double) $maxAbs);
         |    long $qq = 0L; long $sab = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if ($qp.isNullAt($i)) { ${ev.isNull} = true; break; }
         |      double $x = ((double) $a.getFloat($i)) * $scale;
         |      long $q = java.lang.Double.isFinite($x)
         |        ? java.math.BigDecimal.valueOf($x)
         |          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
         |        : 0L;
         |      $qq += $q * $q;
         |      $sab += $q * $qp.getLong($i);
         |    }
         |    if (!${ev.isNull}) {
         |      ${ev.value} = ($qq == 0L || $pqq == 0L) ? 0.0
         |        : ((double) $sab)
         |          / (java.lang.Math.sqrt((double) $qq)
         |             * java.lang.Math.sqrt((double) $pqq));
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Int8CoarseCos =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "int8_coarse_cos"
}
