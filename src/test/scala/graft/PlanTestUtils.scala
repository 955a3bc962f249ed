package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Shared plan-inspection helpers for the spec suite. The QueryStageExec
  * subtlety lives HERE only: AQE wraps materialized subtrees in stage
  * nodes whose plan is a FIELD, not a child, so a plain `collect` stops
  * at stage boundaries — `allNodes` descends explicitly.
  */
object PlanTestUtils {
  /** Execute the DataFrame and return its final (post-AQE) physical plan. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Scans of a materialized checkpoint — how a PlanCache entry is read
    * in every plan that uses it. */
  def cachedReads(p: SparkPlan): Seq[RDDScanExec] =
    allNodes(p).collect { case r: RDDScanExec if r.rdd.isCheckpointed => r }

  /** Full traversal, descending through AQE query stages. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }
}
