package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Iterative-state policy for the driver-loop operators (DedupClusters,
  * KCore, Scc, k-truss, Borůvka MST, Brandes betweenness): where a round's
  * state is stored, how many partitions it spans, and when a loop may
  * stop. Nothing here runs a Spark action of its own; every job belongs
  * to the calling operator's round.
  *
  * Storage discipline: eager checkpoints, NOT persist/unpersist.
  * Unpersisting an upstream cache invalidates dependent InMemoryRelations
  * and re-registers them on the RAW plan, so later rounds silently
  * recompute the whole input lineage (measured: 30-140 s per DedupClusters
  * iteration instead of ~1 s). An eager checkpoint materializes AND
  * truncates lineage, so each round starts from stored blocks with an
  * O(1) plan whatever happens upstream.
  *
  * Stopping discipline: a loop ends only on a CONFIRMED fixpoint, a round
  * that changed nothing. The budget is a hard-fail guard: partially
  * propagated labels or a half-peeled core are silent corruption for every
  * consumer, so exhausting it throws.
  */
object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Driver and executors share one JVM. `local-cluster[...]` starts its
    * executors as separate JVMs, so it counts as a cluster for both
    * decisions below (and for LayoutQueries' scratch-dir guard).
    */
  private[graft] def singleJvm(master: String): Boolean =
    master.startsWith("local") && !master.startsWith("local-cluster")

  /** The default (no checkpoint dir) storage paths are node-local:
    * `localCheckpoint` blocks die with their executor, and driver-created
    * temp files are invisible to executors in other JVMs. Fail fast with
    * the fix in the message rather than corrupt silently.
    */
  private[graft] def requireClusterSafe(master: String,
      checkpointDir: Option[String]): Unit =
    require(checkpointDir.isDefined || singleJvm(master),
      s"master '$master' runs executors outside the driver JVM — pass " +
        "checkpointDir= (or sc.setCheckpointDir) a shared-filesystem path " +
        "(localCheckpoint blocks and driver-local temp files are node-local " +
        "and do not survive on a cluster)")

  /** The reliable-checkpoint base: the explicit argument wins (and is
    * installed on the context); off a single JVM a dir the caller already
    * configured via `sc.setCheckpointDir` also counts — the normal cluster
    * deployment shape, which must not be forced to re-thread the path
    * through every registered query. In a single JVM with no explicit
    * argument this stays None, so state keeps the faster executor-local
    * `localCheckpoint` (and a test session that happens to carry a
    * checkpoint dir does not re-route every suite's state through it).
    */
  private[graft] def resolveReliableDir(sc: SparkContext,
      checkpointDir: Option[String]): Option[String] = {
    checkpointDir.foreach(sc.setCheckpointDir)
    if (checkpointDir.isDefined || singleJvm(sc.master)) checkpointDir
    else sc.getCheckpointDir
  }

  /** Pins iteration state: a reliable checkpoint under [[reliableDir]]
    * when one resolves, else `localCheckpoint`. Construction enforces
    * [[requireClusterSafe]].
    */
  final class Pinner(sc: SparkContext, checkpointDir: Option[String]) {
    val reliableDir: Option[String] = resolveReliableDir(sc, checkpointDir)
    requireClusterSafe(sc.master, reliableDir)

    def apply(df: DataFrame): DataFrame =
      if (reliableDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
  }

  /** Target rows per state partition. Iteration state is a sliver of the
    * input (a candidate graph, a windowed edge set), and pinning ~10^2..10^5
    * rows across the full shuffle-partition count is pure scheduler
    * overhead, paid on every pin of every round; FEW, FULL partitions keep
    * each round a handful of tasks at tested scales while a 100 TB input
    * still fans out wide.
    */
  private val RowsPerPartition = 500000L

  /** State partition count for `rows` rows: about [[RowsPerPartition]]
    * each, at least one, at most the context's default parallelism.
    */
  def stateParts(sc: SparkContext, rows: Long): Int =
    math.max(1L, math.min(sc.defaultParallelism.toLong,
      rows / RowsPerPartition)).toInt

  /** Run `round(1)`, `round(2)`, ... until one returns true (it confirmed
    * the fixpoint), logging one line per round. Throws
    * IllegalStateException naming `what` if `budget` rounds pass without
    * confirmation; a budget of zero throws before any round.
    */
  def until(what: String, budget: Int)(round: Int => Boolean): Unit = {
    var r = 0
    var done = false
    while (!done) {
      if (r >= budget) throw new IllegalStateException(
        s"$what did not reach a confirmed fixpoint in $budget rounds — " +
          "raise its budget")
      r += 1
      val t0 = System.nanoTime()
      done = round(r)
      log.info(f"[graft] $what round $r: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        (if (done) " (fixpoint)" else ""))
    }
  }
}
