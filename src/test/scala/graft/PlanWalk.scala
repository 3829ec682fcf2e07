package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan walks shared by the plan-shape specs. */
object PlanWalk {

  /** Every WindowExec in `p` with an EMPTY partition spec — the
    * all-rows-to-one-task funnel that must never appear on a corpus-scale
    * path (a bounded global window goes through an explicit constant
    * partition key, which this does not flag). Walks children, subqueries,
    * and the plans inside AQE nodes and query stages. */
  def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.executedPlan)
      case s: QueryStageExec => unpartitionedWindows(s.plan)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(unpartitionedWindows) ++
      p.subqueries.flatMap(unpartitionedWindows)
  }
}
