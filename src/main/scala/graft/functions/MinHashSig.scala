package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Per-row 32-permutation MinHash signature over a pre-hashed shingle
 * array — the signature kernel for streaming-side banding
 * (s_incr_dedup), where the aggregator formulation (graft.functions
 * .MinHashAgg over exploded rows) is unusable: a streaming groupBy
 * could never emit in append mode.
 *
 * Bit-compatible with the HOF formulation it replaces, element by
 * element: sig[k] = array_min(transform(hh, h -> xxhash64(h, k)));
 * Spark's xxhash64(a, b) chains XXH64.hashLong(b, XXH64.hashLong(a,
 * 42)), so the kernel shares base = hashLong(h, 42) across the 32
 * permutations and folds all minima in ONE pass — 1 array traversal
 * instead of 32 interpreted transform+array_min rounds
 * (MinHashSigParity test pins the equality).
 *
 * Null/empty semantics: null input → null; an EMPTY array (a doc with
 * < 3 tokens) → null result, downstream-equivalent to the HOF's
 * array_min(empty) = null in every slot (element_at over either feeds
 * xxhash64 the same nulls). Null ELEMENTS are skipped — the HOF would
 * fold one into hashLong(k, 42) because Spark's xxhash64 ignores null
 * inputs rather than returning null — but the input here is
 * transform(sh, xxhash64), which cannot produce null elements, so the
 * branch is unreachable; the parity test pins the reachable domain.
 */
case class MinHashSigExpr(child: Expression) extends UnaryExpression {

  private val numPerms = 32

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<bigint>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val hh = input.asInstanceOf[ArrayData]
    val n = hh.numElements()
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!hh.isNullAt(i)) {
        seen = true
        val base = XXH64.hashLong(hh.getLong(i), 42L)
        var k = 0
        while (k < numPerms) {
          val v = XXH64.hashLong(k.toLong, base)
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, hh => {
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val seen = ctx.freshName("seen")
      val base = ctx.freshName("base")
      val v = ctx.freshName("v")
      s"""
         |int $n = $hh.numElements();
         |long[] $mins = new long[$numPerms];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$hh.isNullAt($i)) {
         |    $seen = true;
         |    long $base = $xxh.hashLong($hh.getLong($i), 42L);
         |    for (int $k = 0; $k < $numPerms; $k++) {
         |      long $v = $xxh.hashLong((long) $k, $base);
         |      if ($v < $mins[$k]) $mins[$k] = $v;
         |    }
         |  }
         |}
         |if (!$seen) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  /** 32-long MinHash signature of an array<bigint> column. */
  def sig(hh: Column): Column = column(MinHashSigExpr(expr(hh)))
}
