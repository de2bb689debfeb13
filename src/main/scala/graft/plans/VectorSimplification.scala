package graft.plans

import graft.functions.SquaredL2Distance
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule for the engine's vector expressions: algebraic
  * identities Catalyst can't know about a foreign `Expression`.
  *
  *   cosine_sim(x, x) → 1.0   (x deterministic, non-null elements)
  *   squared_l2(x, x) → 0.0
  *
  * Injected through `SparkSessionExtensions.injectOptimizerRule`
  * (see [[graft.functions.GraftExtensions]]) — the supported seam for
  * engine-specific rewrites; runs with the resolved+deduplicated plan,
  * so `semanticEquals` is the right equality.
  *
  * The zero-norm corner is why this is safe: our CosineSimilarity
  * defines cos(0⃗, 0⃗) = 0, NOT 1 — so the fold applies only when a
  * strictly-positive self-dot-product cannot be ruled out... which a
  * static rule cannot prove. We therefore fold only `squared_l2`, which
  * is unconditionally 0 for x = x, and leave cosine_sim(x, x) to
  * runtime. (Kept as documentation of the boundary: an identity that is
  * ALMOST always true is not a rewrite.)
  */
object VectorSimplification extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // !nullable: squared_l2 is null-intolerant, so folding a nullable
      // input to a non-null 0.0 would change NULL semantics
      case SquaredL2Distance(a, b)
          if a.deterministic && !a.nullable && a.semanticEquals(b) =>
        Literal(0.0, DoubleType)
    }
}
