package graft

import org.apache.spark.sql.SparkSession

/** One pass over the whole registered query surface for the two plan
  * audits: each key is built ONCE, PlanAuditSpec's rule reads the executed
  * plan and BroadcastAuditSpec's rule the analyzed plan of the same
  * QueryExecution, and the key's pins are released before the next one.
  * Building a key is the expensive part (eager pins, fixpoint rounds), so
  * two separate passes paid it twice. Whichever audit runs first pays for
  * the pass; the other reads the memoized findings.
  */
object SurfacePlans {

  /** Offender lines of each audit, in key order. */
  final case class Findings(executed: Seq[String], broadcast: Seq[String])

  private var findings: Option[Findings] = None

  def audit(spark: SparkSession, sfDir: String): Findings = synchronized {
    findings.getOrElse {
      val perKey = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        try {
          val qe = fn(spark, sfDir).queryExecution
          (PlanAuditSpec.offenders(name, qe.executedPlan),
            BroadcastAuditSpec.offenders(name, qe.analyzed))
        } finally CacheScope.releaseAll() // same discipline as Verify/Bench
      }
      val f = Findings(perKey.flatMap(_._1), perKey.flatMap(_._2))
      findings = Some(f)
      f
    }
  }
}
