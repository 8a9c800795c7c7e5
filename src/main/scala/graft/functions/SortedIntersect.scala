package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Distinct-intersection size of two SORTED long arrays in one codegen
 * merge: `sorted_long_intersect(array<long>, array<long>) -> int`.
 *
 * The near-dup pair build's verify prefilter evaluates this once per
 * LSH candidate pair — millions of evaluations per corpus, 99%+ of
 * them spurious candidates (SCALING.md: 7.6M candidates for 20k true
 * pairs at 220k docs). `size(array_intersect(a, b))` at that call site
 * builds a hash set of one side PER ROW and re-hashes every element of
 * the other; over 8-byte pre-hashed shingles a two-pointer merge over
 * the sorted arrays does the same count with no per-row allocation and
 * no re-hashing — the same kernel-over-HOF trade as
 * [[XxHash64ArrayExpr]] and [[FloatVecDot]].
 *
 * Semantics: the count of DISTINCT values present in both inputs, with
 * each input's duplicate runs skipped during the merge — equal to
 * `size(array_intersect(a, b))` whenever both inputs are sorted
 * ascending (duplicates allowed; SortedIntersectSpec pins the parity).
 * Accepts two array<long> or two array<int> (the prefilter's narrow
 * xxhash64_array_hi32 form); element types must match.
 * UNSORTED input is a caller contract violation and undercounts
 * silently — every call site feeds `sort_array(...)` output. Null
 * ARRAY → null (BinaryExpression's null-intolerance); null ELEMENTS are
 * unsupported by contract (inputs are xxhash64_array chains, which
 * never emit them) and are skipped defensively by the merge.
 */
case class SortedLongIntersectExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private def isInt: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def elem(dt: DataType) = dt match {
      case ArrayType(LongType, _) => Some(LongType)
      case ArrayType(IntegerType, _) => Some(IntegerType)
      case _ => None
    }
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(l), Some(r)) if l == r =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_long_intersect expects two sorted arrays of the SAME " +
            s"element type (long or int), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    if (isInt)
      SortedIntersect.countInt(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    else
      SortedIntersect.count(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isInt) "countInt" else "count"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.SortedIntersect.$fn($a, $b);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_long_intersect"
}

object SortedIntersect {

  /** Two-pointer merge count of distinct common values — static entry
   * point shared by interpreted eval and generated code. Inputs sorted
   * ascending; duplicate runs advance without recounting; null slots
   * advance without matching. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else {
          c += 1
          // skip both duplicate runs so a value counts once
          i += 1; j += 1
          while (i < na && !a.isNullAt(i) && a.getLong(i) == x) i += 1
          while (j < nb && !b.isNullAt(j) && b.getLong(j) == x) j += 1
        }
      }
    }
    c
  }

  /** [[count]] over array<int> inputs — the verify prefilter's narrow
   * variant (elements are xxhash64_array_hi32 output). */
  def countInt(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getInt(i)
        val y = b.getInt(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else {
          c += 1
          i += 1; j += 1
          while (i < na && !a.isNullAt(i) && a.getInt(i) == x) i += 1
          while (j < nb && !b.isNullAt(j) && b.getInt(j) == x) j += 1
        }
      }
    }
    c
  }

  /** Distinct-intersection count of two sorted array<long> columns. */
  def of(a: Column, b: Column): Column =
    column(SortedLongIntersectExpr(expr(a), expr(b)))
}
