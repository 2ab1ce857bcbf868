package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** The ONE definition of "all-pairs join", used by PlanGuardSpec's
  * registry-wide sweep.
  */
object PlanAudit {

  /** The scalar-join idiom: a crossJoin against a 1-row (groupless)
    * aggregate such as a corpus total. Allowed everywhere — but ONLY
    * when the BUILD (broadcast) side IS that 1-row aggregate: the
    * walk descends through row-preserving/reducing unary wrappers
    * (projections, filters, exchanges, codegen shells) and accepts
    * only if the first row-shaping node it meets is a groupless
    * aggregate. A build side that merely CONTAINS a scalar aggregate
    * somewhere below a join/generate (a multi-row table pre-joined
    * with a corpus total) stays flagged — as does anything the
    * whitelist doesn't recognize, which is the safe direction.
    */
  def isScalarBnlj(b: BroadcastNestedLoopJoinExec): Boolean = {
    var p: SparkPlan = b.buildSide match {
      case BuildLeft => b.left
      case BuildRight => b.right
    }
    while (true) {
      p match {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          return a.groupingExpressions.isEmpty
        case u @ (_: org.apache.spark.sql.execution.ProjectExec |
            _: org.apache.spark.sql.execution.FilterExec |
            _: org.apache.spark.sql.execution.SortExec |
            _: org.apache.spark.sql.execution.WholeStageCodegenExec |
            _: org.apache.spark.sql.execution.InputAdapter |
            _: org.apache.spark.sql.execution.exchange.Exchange |
            _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec |
            _: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec |
            _: org.apache.spark.sql.execution.adaptive.QueryStageExec |
            _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec) =>
          p = u.children.headOption.getOrElse(return false)
        case _ => return false
      }
    }
    false
  }

  def cartesians(plan: SparkPlan): Seq[SparkPlan] =
    plan.collect { case c: CartesianProductExec => c }

  /** Non-scalar nested-loop joins — the genuine all-pairs loops that
    * must appear only in the declared broadcast-scan allowlist.
    */
  def allPairsLoops(plan: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
    plan.collect {
      case b: BroadcastNestedLoopJoinExec if !isScalarBnlj(b) => b
    }
}
