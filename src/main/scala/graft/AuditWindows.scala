package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan audit: flags every query whose physical plan contains a WindowExec
  * with an EMPTY partition spec — the all-rows-to-one-task funnel that must
  * never appear on a corpus-scale path (a bounded-input global window is
  * acceptable ONLY via an explicit constant partition key, which this audit
  * does not flag). Usage: runMain graft.AuditWindows [sfDir]
  *
  * Note: building some queries' frames EXECUTES their composed loads
  * (q44/q49/q53 build temp warehouses), so run this at sf0.001.
  */
object AuditWindows {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session.local()

    def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.executedPlan)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(unpartitionedWindows) ++
        p.subqueries.flatMap(unpartitionedWindows)
    }

    def nodesOf(p: SparkPlan, pred: SparkPlan => Boolean): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan, pred)
        case n if pred(n) => Seq(n)
        case _ => Seq.empty
      }
      self ++ p.children.flatMap(nodesOf(_, pred)) ++
        p.subqueries.flatMap(nodesOf(_, pred))
    }

    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val offenders = unpartitionedWindows(plan)
        if (offenders.nonEmpty) {
          bad += 1
          println(s"[audit] $name: ${offenders.size} unpartitioned WindowExec")
          offenders.foreach(w => println(s"         ${w.windowExpression.mkString(", ").take(120)}"))
        }
        // informational: non-equi join shapes. Legitimate on BOUNDED sides
        // (q25's broadcast all-pairs baseline); a new unbounded one is a
        // scale bug — eyeball any new entry here.
        val loops = nodesOf(plan, n => n.nodeName.contains("BroadcastNestedLoop") ||
          n.nodeName.contains("CartesianProduct"))
        if (loops.nonEmpty)
          println(s"[audit] $name: info — ${loops.size} ${loops.map(_.nodeName).distinct.mkString("/")}")
      } catch {
        case e: Throwable => println(s"[audit] $name: build failed: ${e.getMessage.take(120)}")
      }
    }
    println(s"[audit] done: $bad queries with unpartitioned windows")
    spark.stop()
  }
}
