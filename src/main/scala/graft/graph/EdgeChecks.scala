package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Opt-in precondition checks for the operators that iterate
  * [[Kernels.round]] over an edge relation they take to be symmetric:
  * PageRank, PPR and TextRank (through [[Kernels.rank]]),
  * [[GraphPathQueries.katzOf]] and [[GraphQueries.lpaOf]]. A message
  * round sends along each node's IN-edges from the second round on, so
  * it equals the join formulation only when every (src, dst, w) has a
  * (dst, src, w) twin, duplicates included. On any other relation a node
  * with no in-edge silently vanishes and weights flow the wrong way —
  * wrong results with no signal. The check makes such a caller fail
  * loudly instead. HITS alternates the two sides of a bipartite relation
  * and is not checked.
  *
  * Debug-mode, not production-path: the verification is a corpus-sized
  * set-difference job, which does not belong in front of every fixpoint
  * at 100 TB (every REGISTERED caller passes relations symmetric by
  * construction — asserted green under this check by EdgeSymmetrySpec).
  * Enabled per-thread via [[withChecks]] (specs), or process-wide with
  * -Dgraft.debug.checks=1 for ad-hoc debugging of a new caller.
  */
object EdgeChecks {

  private val on = ThreadLocal.withInitial[java.lang.Boolean](() =>
    sys.props.get("graft.debug.checks").exists(_.nonEmpty))

  def enabled: Boolean = on.get

  /** Run `body` with the checks enabled on THIS thread (restores the
    * previous state after; thread-local so parallel suites sharing the
    * session never pay for another suite's debugging).
    */
  def withChecks[T](body: => T): T = {
    val prev = on.get
    on.set(true)
    try body finally on.set(prev)
  }

  /** Fail loudly unless every (src, dst) row — with its `w`, when the
    * relation has one — has its own (dst, src) twin: a multiset
    * difference, so an unpaired duplicate fails too. limit(1) stops the
    * verification scan at the first counterexample.
    */
  def requireSymmetric(edges: DataFrame, op: String): Unit = if (enabled) {
    val w = if (edges.columns.contains("w")) Seq(col("w")) else Nil
    val missing = edges.select(col("src") +: col("dst") +: w: _*)
      .exceptAll(edges.select(col("dst").as("src") +: col("src").as("dst") +: w: _*))
      .limit(1).count()
    require(missing == 0L,
      s"$op: edge relation is not symmetric — a message round would " +
        "silently drop zero-in-degree nodes and misroute weights")
  }
}
