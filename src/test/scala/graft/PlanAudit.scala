package graft

import org.apache.spark.sql.execution.SparkPlan

/** Shared plan-shape detectors for the two audit specs
  * ([[PlanInvariantsSpec]] over the lazy query surface,
  * [[EagerPlanAuditSpec]] over the eager builders' EXECUTED plans).
  * One implementation so the two sweeps can never drift. */
object PlanAudit {

  /** Unpartitioned windows in `plan`, AQE wrappers descended —
    * `collect` does NOT walk into an AdaptiveSparkPlanExec's current
    * physical plan (the round-12 lesson). */
  def globalWindows(plan: SparkPlan): Int = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan): Int =
      p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty           => 1
        case g: WindowGroupLimitExec if g.partitionSpec.isEmpty => 1
        case a: AdaptiveSparkPlanExec                           => walk(a.executedPlan)
      }.sum
    walk(plan)
  }

  /** Names of the interpreted-lambda expressions (`aggregate`,
    * `zip_with`) in an optimized plan, cached relations' physical
    * plans and AQE wrappers included: each is a per-element lambda
    * call, where a per-document kernel belongs (`graft.functions`). */
  def interpretedLambdas(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, Expression, ZipWith}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def in(es: Seq[Expression]): Seq[String] =
      es.flatMap(_.collect { case e @ (_: ArrayAggregate | _: ZipWith) => e.prettyName })
    def physical(p: SparkPlan): Seq[String] = p.flatMap(n => in(n.expressions) ++ (n match {
      case a: AdaptiveSparkPlanExec  => physical(a.executedPlan)
      case s: InMemoryTableScanExec => physical(s.relation.cacheBuilder.cachedPlan)
      case _                         => Nil
    }))
    plan.flatMap(n => in(n.expressions) ++ (n match {
      case m: InMemoryRelation => physical(m.cacheBuilder.cachedPlan)
      case _                   => Nil
    }))
  }

  /** String-level join-shape facts (the BNLJ/Cartesian audit matches
    * the rendered plan — it sees through AQE because toString renders
    * the current physical plan). */
  def hasCartesian(planString: String): Boolean =
    planString.contains("CartesianProduct")
  def hasBnlj(planString: String): Boolean =
    planString.contains("BroadcastNestedLoopJoin")
}
