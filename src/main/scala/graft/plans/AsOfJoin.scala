package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Native AS-OF join — SURVEY §4 preference (c): a custom LogicalPlan +
  * SparkStrategy + SparkPlan, for the one time-series operator shape the
  * built-ins only approximate. `q_asof_join` composes the single-stream
  * window trick (preference (a)), which works when both sides interleave
  * into ONE ordered stream; the native operator is the genuine two-table
  * `merge_asof`: for every left row, the LATEST right row of the same key
  * with right.time <= left.time, as one streaming merge pass over
  * co-partitioned, co-sorted children.
  *
  * Scale shape — exactly a sort-merge join's: EnsureRequirements gives
  * both children hash-clustering on the key plus (key, time) intra-
  * partition sort; the merge itself is O(|left| + |right|) per partition
  * with ONE buffered right row of state. Honest cost accounting (measured
  * at sf0.1): the window composition pays ONE exchange over the unioned
  * stream and stays in codegen (0.17 s), the native exec pays one
  * exchange PER SIDE and runs interpreted (0.35 s) — so where both apply,
  * preference (a) stands. The native operator earns its place on the
  * shapes the window trick cannot express: a distinct right relation
  * whose payload columns would otherwise ride through an unbounded
  * ignore-nulls frame per column, and the tolerance bound, which is one
  * comparison here.
  */
object AsOfJoin {

  /** left.asof(right): one output row per LEFT row (left-outer), carrying
    * the matched right row's columns (null-padded when no right row
    * precedes). Keys must be LongType; times TimestampType or LongType
    * (compared on their int64 encoding — micros for timestamps).
    * Right column names must not collide with left's (alias before the
    * call); ties on right (key, time) resolve to the row latest in the
    * child's (key, time)-sorted order. `toleranceUs` bounds the lookback
    * (merge_asof's tolerance): a held right row older than
    * left.time - tolerance no longer matches — the variant the window
    * composition cannot express without dragging every right column
    * through an unbounded frame.
    */
  def asof(left: DataFrame, right: DataFrame, leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      toleranceUs: Option[Long] = None): DataFrame = {
    require(toleranceUs.forall(_ >= 0), "tolerance must be >= 0")
    val spark = left.sparkSession
    GraftSqlBridge.addStrategyOnce(spark, AsOfJoinStrategy)
    val lp = GraftSqlBridge.analyzed(left)
    val rp = GraftSqlBridge.analyzed(right)
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side column '$n' not in ${p.output.map(_.name)}"))
    def checkLong(a: Attribute, what: String): Attribute = {
      require(a.dataType == LongType || a.dataType == TimestampType,
        s"$what must be long/timestamp, got ${a.dataType}")
      a
    }
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"column names collide across sides: $overlap")
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(lp, rp,
      checkLong(attr(lp, leftKey, "left key"), "left key"),
      checkLong(attr(lp, leftTime, "left time"), "left time"),
      checkLong(attr(rp, rightKey, "right key"), "right key"),
      checkLong(attr(rp, rightTime, "right time"), "right time"),
      toleranceUs))
  }
}

/** Logical AS-OF join node. Children arrive analyzed (built from
  * DataFrames), so the node is born resolved; the attributes double as
  * this node's expression references, which keeps column pruning honest.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    toleranceUs: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. Registered by
  * [[graft.plans.GraftExtensions]] (config-wired sessions:
  * `spark.sql.extensions=graft.plans.GraftExtensions`) and idempotently by
  * [[AsOfJoin.asof]] via `experimental.extraStrategies` (code-wired).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, tol) =>
      AsOfJoinExec(lk, lt, rk, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical streaming-merge AS-OF join. Distribution/ordering contracts
  * mirror SortMergeJoin: both children hash-clustered on their key and
  * sorted by (key, time) — EnsureRequirements inserts the exchanges and
  * sorts, AQE and exchange reuse apply as usual. Each partition then
  * merges in one pass holding a single copied right row.
  */
case class AsOfJoinExec(leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    toleranceUs: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lkOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val ltOrd = left.output.indexWhere(_.exprId == leftTime.exprId)
    val rkOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rtOrd = right.output.indexWhere(_.exprId == rightTime.exprId)
    require(lkOrd >= 0 && ltOrd >= 0 && rkOrd >= 0 && rtOrd >= 0,
      "as-of key/time attributes missing from child output")
    val outAttrs = output
    val rWidth = right.output.size
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rWidth)
      val rBuf = ri.buffered
      val tol = toleranceUs.getOrElse(Long.MaxValue)
      // One row of merge state: the latest right row seen for heldKey.
      var held: InternalRow = null
      var heldKey: Long = 0L
      var heldTime: Long = 0L
      li.map { l =>
        if (l.isNullAt(lkOrd) || l.isNullAt(ltOrd)) {
          project(joined(l, nullRight))
        } else {
          val lk = l.getLong(lkOrd)
          val lt = l.getLong(ltOrd)
          var advance = true
          while (advance && rBuf.hasNext) {
            val h = rBuf.head
            if (h.isNullAt(rkOrd) || h.isNullAt(rtOrd)) rBuf.next()
            else {
              val rk = h.getLong(rkOrd)
              if (rk < lk || (rk == lk && h.getLong(rtOrd) <= lt)) {
                val r = rBuf.next()
                if (rk == lk) {
                  held = r.copy(); heldKey = rk; heldTime = r.getLong(rtOrd)
                }
              } else advance = false
            }
          }
          // Tolerance gate: lt - tol may underflow for huge tolerances,
          // so compare as lt - heldTime <= tol (both sides non-negative
          // by the merge invariant heldTime <= lt).
          val m = if (held != null && heldKey == lk && lt - heldTime <= tol) held
            else nullRight
          project(joined(l, m))
        }
      }
    }
  }
}
