package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{FloatVecCosine, FloatVecDot}
import graft.plans.{CosineFusionRule, TopKPerKeyStrategy}

/**
 * The engine's SparkSessionExtensions entry point — the idiomatic way to
 * ship everything custom in one switch:
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
 * or `.withExtensions(new GraftExtensions)` on a session builder.
 *
 * Installs:
 *  - `vec_dot` / `vec_cosine` as SQL functions (codegen expressions,
 *    usable from pure SQL, not just the Column API);
 *  - [[CosineFusionRule]] as an optimizer rule (composed cosine →
 *    fused kernel);
 *  - [[TopKPerKeyStrategy]] as a planner strategy (TopKPerKeyNode →
 *    partial/final exec).
 *
 * The per-session helpers (`VectorFunctions.register`,
 * `CosineFusionRule.install`, `TopK.install`) remain for REPL use; this
 * class is the cluster-config packaging of the same registrations.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", classOf[FloatVecDot]),
      (exprs: Seq[Expression]) => FloatVecDot(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", classOf[FloatVecCosine]),
      (exprs: Seq[Expression]) => FloatVecCosine(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => CosineFusionRule)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
