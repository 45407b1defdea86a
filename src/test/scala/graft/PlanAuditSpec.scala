package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Global scale-killer audit over the ENTIRE query surface: no query may
  * plan a Cartesian product (an unbucketed all-pairs — every near-dup /
  * ANN family here must reduce candidate generation to equi-joins) or an
  * unpartitioned window (a single-task global sort-and-scan at 100 TB).
  * BroadcastNestedLoopJoin is deliberately allowed: broadcasting a tiny
  * query set against a scan (sim_knn_bruteforce) is the intended exact
  * baseline, bounded by the broadcast side.
  */
class PlanAuditSpec extends SparkSpec {

  test("no query plans a Cartesian product or an unpartitioned window") {
    val offenders = SurfacePlans.audit(spark, sfDir).executed
    assert(offenders.isEmpty, s"scale-killers found:\n${offenders.mkString("\n")}")
  }
}

object PlanAuditSpec {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  /** This audit's findings for one key's executed plan. */
  def offenders(name: String, executed: SparkPlan): Seq[String] = {
    val nodes = flatten(executed)
    val cartesian = nodes.collect { case c: CartesianProductExec => c }
    val globalWindow = nodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    (if (cartesian.nonEmpty) Seq(s"$name: CartesianProduct") else Nil) ++
      (if (globalWindow.nonEmpty) Seq(s"$name: unpartitioned Window") else Nil)
  }
}
