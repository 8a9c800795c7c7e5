package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Hashed word bigrams of a token array in ONE codegen kernel:
 * `word_bigram_hashes(toks) -> array<long>`.
 *
 * Replaces the declared-equivalent composite
 * `CASE WHEN size(ts) < 2 THEN array() ELSE transform(sequence(0,
 * size(ts) - 2), i -> xxhash64(concat(ts[i], ' ', ts[i + 1]))) END`
 * — the bigram constructor under the corpus-LM score (q_lm_score) and
 * the Gopher repetition rule (q_repetition). ArrayTransform is
 * CodegenFallback: that lambda ran interpreted per TOKEN PAIR with a
 * fresh concat per bigram (the last interpreted lambda on a
 * corpus-scale text path, VERDICT r15 "what's wrong" 2). The kernel
 * walks the token array once and hashes each pair's joined bytes
 * directly — the word_shingles / substr_gram_hashes recipe.
 *
 * VALUE PARITY with the composite is load-bearing and spec-pinned
 * (BigramHashesSpec): equal inputs → element-equal long arrays, ON the
 * real corpus, including the two null conventions the composite
 * carries: a null token makes `concat` null and `xxhash64(null)`
 * returns the SEED (42) — so a null-adjacent pair contributes 42L, not
 * null — and a null token ARRAY yields null (UnaryExpression default).
 * Fewer than 2 tokens yield an EMPTY array, exactly like the guarded
 * CASE. Because values are identical, corpus frequencies, HotColdFreq
 * routing, and every oracle comparison are unchanged.
 */
case class WordBigramHashesExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_bigram_hashes expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    BigramHashes.hashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.BigramHashes.hashes($a);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): WordBigramHashesExpr = copy(child = newChild)

  override def prettyName: String = "word_bigram_hashes"
}

object BigramHashes {

  private val Seed = 42L // Spark's xxhash64 default seed
  private val Space = UTF8String.fromString(" ")

  /** xxhash64 of each adjacent token pair joined by one space — static
   * entry point shared by interpreted eval and generated code. */
  def hashes(toks: ArrayData): GenericArrayData = {
    val m = toks.numElements()
    if (m < 2) return new GenericArrayData(new Array[Long](0))
    val out = new Array[Long](m - 1)
    var i = 0
    while (i < m - 1) {
      // concat(null, …) is null, and xxhash64(null) passes the seed
      // through unchanged — the composite's null convention
      out(i) =
        if (toks.isNullAt(i) || toks.isNullAt(i + 1)) Seed
        else XXH64.hashUTF8String(
          UTF8String.concat(toks.getUTF8String(i), Space,
            toks.getUTF8String(i + 1)), Seed)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hashed bigrams of a token-array column. */
  def of(toks: Column): Column = column(WordBigramHashesExpr(expr(toks)))
}
