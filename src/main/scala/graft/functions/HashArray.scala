package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Elementwise xxhash64 over a string array in ONE codegen kernel:
 * `xxhash64_array(array<string>) -> array<long>`.
 *
 * Replaces the `transform(sh, x -> xxhash64(x))` formulation used
 * across the LSH dedup family (shingle → 8-byte digest before the
 * Generate). Spark's ArrayTransform is CodegenFallback: the lambda is
 * evaluated expression-tree-at-a-time PER ELEMENT — for a corpus-scale
 * shingle explode that is millions of interpreted dispatches on the
 * hottest path in the family. This kernel hashes the whole array in a
 * tight loop over the UTF8String bytes in place (no per-element
 * boxing, no string copy).
 *
 * VALUE PARITY IS LOAD-BEARING: each element hashes via the same XXH64
 * routine and default seed (42) as Spark's `xxhash64(string)` — so
 * MinHash signatures, band values, and every persisted artifact built
 * before the swap are bit-identical (a different hash would silently
 * reshuffle LSH band membership and could drop a true near-dup pair
 * the oracle expects). HashArraySpec pins elementwise equality against
 * `xxhash64` itself, including multi-byte UTF-8 and the empty string.
 * A null ELEMENT hashes to the seed — exactly Spark's hash-expression
 * convention (null input leaves the running hash untouched) — so the
 * output array never carries nulls; shingle arrays cannot contain
 * nulls anyway (concat_ws over array_distinct).
 */
case class XxHash64ArrayExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"xxhash64_array expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashArray.hashAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.HashArray.hashAll($a);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): XxHash64ArrayExpr = copy(child = newChild)

  override def prettyName: String = "xxhash64_array"
}

/**
 * [[XxHash64ArrayExpr]]'s NARROW sibling: the HIGH 32 bits of each
 * element's xxhash64, as `array<int>` —
 * `xxhash64_array_hi32(array<string>) -> array<int>`.
 *
 * Exists for the near-dup verify PREFILTER, whose per-pair join ships
 * a hashed copy of every candidate doc's shingle set through a
 * pair-cardinality shuffle (47.65M rows at the 110× profile): the
 * prefilter's exactness argument (LlmOps.prefilterKeep) needs only a
 * DETERMINISTIC per-element hash plus a per-doc injectivity check —
 * never 64 bits — so halving the element width halves the dominant
 * shuffle's array bytes. NOT interchangeable with [[XxHash64ArrayExpr]]
 * where 64-bit identity is load-bearing (MinHash signatures, band
 * values, persisted artifacts). High bits, not a cast: Spark 4 runs
 * ANSI by default and a long→int Cast overflow throws; the high word
 * of xxhash64's finalization mixes as well as the low.
 */
case class XxHash64ArrayHi32Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"xxhash64_array_hi32 expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashArray.hashAllHi32(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.HashArray.hashAllHi32($a);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): XxHash64ArrayHi32Expr = copy(child = newChild)

  override def prettyName: String = "xxhash64_array_hi32"
}

object HashArray {

  /** Spark's default seed for the `xxhash64` SQL function. */
  final val SEED = 42L

  /** Hash every element of a string array — static entry point shared
   * by interpreted eval and generated code (top-level objects emit
   * static forwarders Janino can call). */
  def hashAll(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out(i) = SEED
      else out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(arr.getUTF8String(i), SEED)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** High 32 bits of each element's xxhash64 (see
   * [[XxHash64ArrayHi32Expr]]) — null elements hash from the seed,
   * matching [[hashAll]]'s convention. */
  def hashAllHi32(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) SEED
        else org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(arr.getUTF8String(i), SEED)
      out(i) = (h >>> 32).toInt
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Elementwise xxhash64 of a string-array column. */
  def arrayHash(c: Column): Column = column(XxHash64ArrayExpr(expr(c)))

  /** Elementwise high-32-bit xxhash64 as array<int>. */
  def arrayHashHi32(c: Column): Column = column(XxHash64ArrayHi32Expr(expr(c)))
}
