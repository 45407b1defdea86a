package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scale-killer audit #2 (companion to PlanAuditSpec): no query may put an
  * EXPLICIT broadcast() hint over a raw big-table scan. A size-based plan
  * re-chooses at real scale (the optimizer falls back to a shuffle join
  * when the build side outgrows the threshold), but an explicit hint
  * OVERRIDES stats at any scale — so a broadcast(bigRelation) that happens
  * to fit at sf0.1 is a latent OOM on a 1000-executor run.
  *
  * The invariant: every explicit broadcast hint must have at least one
  * cardinality-reducing operator below it on every raw-scan path — a
  * Filter (selective probe sets like vec_id < nQueries), an Aggregate
  * (moments, centroids, totals), a Limit (seed picks, top-k), or a
  * Distinct over a bounded domain (dimension indices, cells, buckets);
  * a Join counts when either input is itself guarded (the bounded-probe
  * pattern: corpus ⋈ k-row seed relation). This is a static audit over
  * the analyzed logical plan, so it sees the hints exactly as written in
  * the operator code, before the planner's size-based decisions.
  */
class BroadcastAuditSpec extends SparkSpec {

  test("no explicit broadcast hint covers an unguarded big-table scan") {
    val offenders = SurfacePlans.audit(spark, sfDir).broadcast
    assert(offenders.isEmpty,
      s"explicit broadcast over an unguarded big scan:\n${offenders.mkString("\n")}")
  }
}

object BroadcastAuditSpec {

  /** The unbounded tables: anything whose row count scales with the
    * corpus. region/nation and the fixture side tables are genuinely
    * constant-size and broadcasting them raw is the intended plan.
    */
  private val big = Set("lineitem", "orders", "customer", "part", "supplier",
    "events", "documents", "embeddings")

  private def unguarded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => false
    case _: Filter => false
    case _: GlobalLimit | _: LocalLimit => false
    case _: Deduplicate => false
    case j: Join =>
      unguarded(j.left) && unguarded(j.right)
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        val paths = h.location.rootPaths.map(_.toString).mkString(",")
        big.exists(t => paths.contains(t + ".parquet"))
      case _ => false
    }
    case other => other.children.exists(unguarded)
  }

  /** Justified exemptions — each one documents WHY the raw broadcast is
    * the intended plan, not an oversight:
    *   - dedup_semdedup_eval: the exact all-pairs cosine TRUTH side. An
    *     eval probe is quadratic by definition; its scaladoc pins the
    *     100 TB contract (the probe runs on a fixed eval slice, so the
    *     broadcast side is the bounded sample — at bench SF the whole
    *     corpus IS the slice).
    */
  private val allowed = Set("dedup_semdedup_eval")

  /** This audit's findings for one key's analyzed plan. */
  def offenders(name: String, analyzed: LogicalPlan): Seq[String] =
    if (allowed(name)) Nil
    else analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
          unguarded(h.child) => name
    }.distinct
}
