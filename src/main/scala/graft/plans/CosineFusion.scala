package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{FloatVecCosine, FloatVecDot}

/**
 * Optimizer rule: rewrite the composed cosine-similarity expression
 *
 *   vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))
 *
 * into the fused single-pass [[FloatVecCosine]] kernel. A caller writing
 * the textbook formula gets one array traversal instead of three for
 * free; the rewrite is safe because the kernel keeps each accumulator's
 * left-to-right order and applies the identical final expression, so
 * results are bit-for-bit the same (VectorExpressionsSpec pins this).
 *
 * Matching is by `semanticEquals` (not object identity), so aliased or
 * re-resolved attribute references still fuse; both operand orders of
 * the norm product are accepted. This is the pattern-level analog of
 * what a physical fusion pass in a native engine would do — expressed
 * as a ~20-line Catalyst `Rule[LogicalPlan]` on the optimizer, injected
 * by [[graft.GraftExtensions]].
 */
object CosineFusionRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Divide(
            FloatVecDot(a, b),
            Multiply(Sqrt(FloatVecDot(a1, a2)), Sqrt(FloatVecDot(b1, b2)), _), _)
          if a1.semanticEquals(a2) && b1.semanticEquals(b2) &&
            ((a.semanticEquals(a1) && b.semanticEquals(b1)) ||
              (a.semanticEquals(b1) && b.semanticEquals(a1))) =>
        FloatVecCosine(a, b)
    }
}
