package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distinct word n-gram shingles of a token array in ONE codegen
 * kernel: `word_shingles(toks, n) -> array<string>`.
 *
 * Replaces the declared-equivalent composite
 * `array_distinct(transform(sequence(0, size(toks) - n), i ->
 * concat_ws(' ', slice(toks, i + 1, n))))` — the shingle constructor
 * under the ENTIRE dedup family (MinHash signatures, LSH banding,
 * exact-Jaccard verify, containment, decontamination). ArrayTransform
 * is CodegenFallback: that lambda ran interpreted per TOKEN with a
 * fresh slice array + concat per shingle. The kernel walks the token
 * array once, builds each n-gram's bytes directly, and dedups with a
 * first-occurrence-order hash set.
 *
 * VALUE AND ORDER PARITY with the composite is load-bearing and
 * spec-pinned (ShinglesSpec): equal inputs → byte-equal arrays in the
 * same order (array_distinct keeps first occurrences), including
 * concat_ws's null-skipping convention (a null token joins as if
 * absent — tokenizers here never produce null tokens, but the
 * semantics must not silently differ). Short inputs (< n tokens)
 * yield an EMPTY array, exactly like the guarded CASE the composite
 * carried; a null token ARRAY yields null. Because the output is
 * byte-identical, every persisted artifact (MinHash signature table)
 * and every oracle comparison is unchanged.
 */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingles expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    Shingles.shingle(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.Shingles.shingle($a, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): WordShinglesExpr = copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object Shingles {

  /** Distinct n-gram shingles in first-occurrence order — static entry
   * point shared by interpreted eval and generated code. */
  def shingle(toks: ArrayData, n: Int): GenericArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 0
    while (i <= m - n) {
      // concat_ws(' ', ...) skips NULL elements: join only non-nulls
      var first = true
      val sb = new java.io.ByteArrayOutputStream(32)
      var j = 0
      while (j < n) {
        if (!toks.isNullAt(i + j)) {
          if (!first) sb.write(' ')
          first = false
          val t = toks.getUTF8String(i + j)
          sb.write(t.getBytes, 0, t.numBytes)
        }
        j += 1
      }
      seen.add(UTF8String.fromBytes(sb.toByteArray))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Distinct n-gram shingles of a token-array column. */
  def of(toks: Column, n: Int): Column = column(WordShinglesExpr(expr(toks), n))
}
