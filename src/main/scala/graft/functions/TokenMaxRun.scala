package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `token_max_run(toks)` — the count of the single most-repeated element
 * of a string array, O(n log n) per row.
 *
 * Replaces the Gopher repetition rule's
 * `array_max(transform(array_distinct(toks), t -> size(filter(toks, x
 * -> x = t))))`, which is O(distinct × n) per document with BOTH
 * lambdas running interpreted (higher-order functions are
 * CodegenFallback). Invisible on ~100-token gate docs; a 100k-token
 * document makes it ~10¹⁰ interpreted comparisons in one row. Same
 * recipe as the r14 sorted-RLE gram multiset
 * ([[SubstrHash.hashWindowsRle]]): sort in-row, count the longest run —
 * except tokens sort as exact UTF8Strings (no hash step), so equality
 * semantics are byte-identical to the lambda form, collision-free.
 *
 * Null semantics pinned to the replaced expression
 * (TokenMaxRunSpec): empty array → null (array_max of an empty array),
 * null elements → counted as 0 (the lambda's `x = t` is never true for
 * null), all-null array → 0 (array_max([0,…])). Split output never
 * contains nulls; the pins are for contract completeness.
 */
case class TokenMaxRunExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_max_run expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val r = TokenMaxRun.maxRun(input.asInstanceOf[ArrayData])
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      // freshName: two instances of this expression can share one
      // generated function's scope (non-nullable child ⇒ no brace
      // wrapper), so a fixed local name would collide
      val tmp = ctx.freshName("maxRun")
      s"""
         |long $tmp = graft.functions.TokenMaxRun.maxRun($s);
         |if ($tmp < 0L) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): TokenMaxRunExpr = copy(child = newChild)

  override def prettyName: String = "token_max_run"
}

object TokenMaxRun {

  /** Longest run of equal elements after an in-row sort; −1 signals the
   * empty array (→ SQL null upstream). Static entry point shared by
   * interpreted eval and generated code (top-level object → static
   * forwarder Janino can call). */
  def maxRun(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return -1L
    val a = new Array[UTF8String](n)
    var nn = 0 // non-null count; nulls never join a run (lambda parity)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { a(nn) = arr.getUTF8String(i); nn += 1 }
      i += 1
    }
    if (nn == 0) return 0L // all-null: the lambda counts 0 per element
    java.util.Arrays.sort(a.asInstanceOf[Array[Object]], 0, nn)
    var best = 0L
    i = 0
    while (i < nn) {
      var j = i + 1
      while (j < nn && a(j).equals(a(i))) j += 1
      if (j - i > best) best = j - i
      i = j
    }
    best
  }

  /** Most-repeated-element count of a string-array column. */
  def maxRunCol(toks: Column): Column = column(TokenMaxRunExpr(expr(toks)))
}
