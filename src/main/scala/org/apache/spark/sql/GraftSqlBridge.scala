package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to package-private Spark internals graft's custom operator
 * needs (the standard extension-library technique; same pattern used by
 * public Spark extension projects):
 *  - `Dataset.ofRows` to hand a custom LogicalPlan back to the session
 *  - Column ↔ catalyst Expression in Spark 4's column-node world
 *    (`ExpressionUtils` and `Column`'s companion are `private[sql]`)
 *  - the SQL builder of a typed Aggregator
 *  - `mapPartitionsInternal` for exec-node iterators without the
 *    closure-cleaning overhead of the public mapPartitions */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eager Column → catalyst Expression (ExpressionUtils.expression wraps
   * lazily in a ColumnNodeExpression, which hides e.g. SortOrder from
   * pattern matches). */
  def expr(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** catalyst Expression → Column: how the graft kernels' Column API
   * builds its plans without a function-registry lookup. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The function-registry builder `spark.udf.register(name, f)` installs
   * for an `f` made by `functions.udaf` (`UserDefinedAggregator` is
   * `private[sql]`). `f` is built on the first call: its input encoder
   * needs Scala runtime reflection, which a session that never calls
   * the aggregator should not pay for at start-up. */
  def aggregatorBuilder(name: String, f: => expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = {
    lazy val u = f.withName(name)
      .asInstanceOf[expressions.UserDefinedAggregator[Any, Any, Any]]
    exprs => execution.aggregate.ScalaAggregator(u, exprs)
  }

  def mapPartitionsInternal(rdd: RDD[InternalRow])(
      f: Iterator[InternalRow] => Iterator[InternalRow]): RDD[InternalRow] =
    rdd.mapPartitionsInternal(f)
}
