package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.GraftSqlBridge.aggregatorBuilder
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.IntegerType
import graft.functions._
import graft.plans.CosineFusionRule

/**
 * The engine's SparkSessionExtensions entry point: the SQL names of every
 * graft kernel, plus [[CosineFusionRule]] as an optimizer rule (composed
 * cosine → fused kernel).
 *
 * The kernels have two surfaces:
 *  - the Column API (`VectorFunctions.vecDot`, `HashArray.arrayHash`,
 *    `Shingles.of`, …) builds its Catalyst expression directly, so it
 *    works in any session, this extension installed or not;
 *  - the SQL names in [[GraftExtensions.sqlFunctions]] come with every
 *    [[GraftSession]] session, which installs this class, or with
 *    `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`
 *    (or `.withExtensions(new GraftExtensions)` on any session builder).
 *
 * `TopK.perKey` installs its planner strategy itself, in any session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), builder))
    }
    ext.injectOptimizerRule(_ => CosineFusionRule)
  }
}

object GraftExtensions {

  /** A width argument (`k`, `n`) must be an integer literal: the kernel
   * specializes on it. */
  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Every graft SQL name → the class shown by DESCRIBE FUNCTION → the
   * builder applied to the call's arguments. */
  val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[FloatVecDot], e => FloatVecDot(e(0), e(1))),
    ("vec_cosine", classOf[FloatVecCosine], e => FloatVecCosine(e(0), e(1))),
    ("int8_coarse_cos", classOf[Int8CoarseCos], e => Int8CoarseCos(e(0), e(1), e(2))),
    ("minhash_sig", classOf[MinHashSigExpr], e => MinHashSigExpr(e(0))),
    ("substr_hash_windows", classOf[SubstrHashWindowsExpr],
      e => SubstrHashWindowsExpr(e(0), intLit(e(1), "substr_hash_windows", "k"))),
    ("substr_hash_windows_rle", classOf[SubstrHashWindowsRleExpr],
      e => SubstrHashWindowsRleExpr(e(0), intLit(e(1), "substr_hash_windows_rle", "k"))),
    ("word_shingles", classOf[WordShinglesExpr],
      e => WordShinglesExpr(e(0), intLit(e(1), "word_shingles", "n"))),
    ("xxhash64_array", classOf[XxHash64ArrayExpr], e => XxHash64ArrayExpr(e(0))),
    ("xxhash64_array_hi32", classOf[XxHash64ArrayHi32Expr], e => XxHash64ArrayHi32Expr(e(0))),
    ("word_bigram_hashes", classOf[WordBigramHashesExpr], e => WordBigramHashesExpr(e(0))),
    ("token_max_run", classOf[TokenMaxRunExpr], e => TokenMaxRunExpr(e(0))),
    ("sorted_long_intersect", classOf[SortedLongIntersectExpr],
      e => SortedLongIntersectExpr(e(0), e(1))),
    ("bloom_agg", classOf[BloomFilterAggregate],
      e => BloomFilterAggregate(e(0), e(1), e(2), 0, 0)),
    ("bloom_contains", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))),
    ("minhash32", classOf[MinHashAgg], aggregatorBuilder("minhash32", udaf(new MinHashAgg(32)))),
    ("simhash32", classOf[SimHashAgg], aggregatorBuilder("simhash32", udaf(new SimHashAgg))))
}
