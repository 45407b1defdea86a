package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed k-th order statistic over a NON-NEGATIVE int64 column with
  * no global sort, no window, and no per-row rank: iterative radix
  * narrowing. Level by level (bit shifts 48/36/24/12/0), count the rows
  * per `value div 2^shift` bucket inside the currently-selected prefix,
  * prefix-sum the bounded bucket relation (≤4096 rows BY VALUE RANGE at
  * every level below the first, whatever the row count), and descend into
  * the bucket containing the remaining rank. After the shift-0 level the
  * "bucket" IS the answer.
  *
  * Each level is ONE flat filtered aggregation over `values`; the only
  * driver traffic is the bounded bucket-count relation (≤ |cursors|·4096
  * rows by value range) — the BPE-trainer bounded-scalar exception.
  * Threading that state as a chained 1-row broadcast relation instead
  * doubles the un-materialized plan per level (2^levels re-evaluations —
  * measured 41.7 s vs 1.4 s at sf0.1 in q_ml_conformal for the identical
  * algorithm). Callers should persist `values` (all levels re-scan it).
  *
  * Pass-count optimizations (r15/r16, guide §1.2 "the distributed
  * algorithm first"):
  *  - MANY ranks narrow through the SAME per-level bucket counts
  *    ([[ranks]] / [[ranksByGroup]]): the three order statistics of
  *    q_stats_median_ci cost the same passes as one.
  *  - Levels whose whole span exceeds max(value) put every row in bucket
  *    0 — a full counting pass that decides nothing. One cheap max()
  *    aggregation up front skips them: cents-scaled prices (~2^24) need
  *    2 counting passes, not 5. In the grouped path the skip is
  *    PER GROUP (r16): a group whose max is below the level's span sits
  *    at prefix 0 with its rank untouched, so it is excluded from the
  *    level's filter — its rows don't flow into the count — and a level
  *    no group is live at is skipped outright.
  *  - Callers that already aggregate over `values` (for n / per-group n)
  *    can fold max(value) into that SAME job and pass it via `mx` /
  *    `maxes`, eliminating the operator's own max() pass. It must be the
  *    TRUE max: the first live level's count checks it (a value above it
  *    fails the call) at no extra pass.
  *
  * CURSOR-COUNT BOUND: each level's prefix filter is an OR-chain with one
  * disjunct per live (group, prefix) cursor. The expression tree (and its
  * codegen) grows linearly with |groups| × |distinct prefixes|; registered
  * callers stay ≤ 5 groups × 5 ranks. [[MaxCursors]] (256) fails loudly
  * before a wider caller can blow up planning — past that the prefix
  * filter should become a broadcast semi-join on a (group, prefix)
  * relation, not a literal OR-chain.
  *
  * At 100 TB: log_4096(maxValue) ≈ 1 + ceil(log2(max)/12) passes over the
  * (filtered) value relation, every aggregation map-side combining into
  * ≤4096 groups per live cursor — this is the canonical distributed
  * quantile-without-sort and the building block for exact medians,
  * trimmed means, and conformal calibration quantiles.
  */
object RadixSelect {

  /** See the cursor-count bound in the class doc. */
  val MaxCursors = 256

  /** The k-th smallest (1-based) value of `valueCol`; k must be in
    * [1, count]. Values must be non-negative (shift arithmetic).
    * Single-rank view of [[ranks]].
    */
  def kth(values: DataFrame, valueCol: String, k: Long,
      mx: Option[Long] = None): Long =
    ranks(values, valueCol, Seq(k), mx)(k)

  /** The `mx` argument from a caller's own one-row aggregate, whose `mx`
    * field is max(value). That max is null over an empty relation; unboxed
    * as it is, it would read 0 and the selection would fail later with a
    * misleading message, so it fails here with the operator's own.
    */
  def maxOf(row: Row): Option[Long] = {
    require(!row.isNullAt(row.fieldIndex("mx")), EmptyRelation)
    Some(row.getAs[Long]("mx"))
  }

  private val EmptyRelation = "rank selection over an empty relation"

  /** Values live entirely below 2^60 by contract: the first-level prefix
    * (`value div 2^startPrev`) must be 0 for every row, else those rows
    * silently vanish from every count and the ranks come back wrong.
    * Enforced loudly now that max(value) is collected up front anyway.
    */
  private def requireInRange(mx: Long): Unit =
    require(mx < (1L << 60),
      s"RadixSelect: max(value) = $mx breaches the < 2^60 contract")

  /** A caller-supplied max must be the true max(value). When it is, every
    * row has prefix 0 at the first live level, so that level counts
    * without the prefix filter and costs no extra pass; a bucket above
    * the max's own shows a larger value, which every later level's prefix
    * filter would silently drop.
    */
  private def requireTrueMax(buckets: Iterable[Long], mx: Long, sh: Int,
      what: String): Unit =
    buckets.find(_ > (mx >> sh)).foreach { b =>
      throw new IllegalArgumentException(
        s"RadixSelect: values$what reach at least ${b << sh}, above the supplied max $mx " +
          "— mx/maxes must be the true max(value)")
    }

  /** The counting levels actually worth running for values in [0, mx]:
    * a level whose whole span exceeds mx maps every row to bucket 0 and
    * decides nothing. Returns (levels, startPrev) where `value div
    * 2^startPrev == 0` for every row by construction.
    */
  private def liveLevels(mx: Long): (Seq[Int], Int) = {
    val levels = Seq(48, 36, 24, 12).filter(sh => (mx >> sh) > 0) :+ 0
    (levels, math.min(levels.head + 12, 60))
  }

  /** Explicit running prefix-sum descent over one cursor's sorted bucket
    * counts: returns (bucket holding the remaining rank, rows before it).
    * A plain loop — the previous collectFirst-with-mutating-guard idiom
    * depended on exactly-once guard evaluation (ADVICE r15).
    */
  private def descend(buckets: Array[(Long, Long)], kk: Long,
      what: => String): (Long, Long) = {
    var acc = 0L
    var idx = 0
    while (idx < buckets.length) {
      val (b, t) = buckets(idx)
      if (acc + t >= kk) return (b, acc)
      acc += t
      idx += 1
    }
    throw new IllegalStateException(s"rank $kk exhausted $what (n < k?)")
  }

  /** MANY global ranks (1-based, each in [1, count]) resolved in ONE
    * narrowing: every rank's cursor descends through the same per-level
    * bucket-count relation, so p ranks cost the passes of one — max()
    * plus one counting aggregation per live level. Values must be
    * non-negative int64 (< 2^60). Pass `mx = Some(max(value))` when the
    * caller already aggregated it (folds away the operator's max pass).
    */
  def ranks(values: DataFrame, valueCol: String, ks: Seq[Long],
      mx: Option[Long] = None): Map[Long, Long] = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ranks must be positive, got $ks")
    require(ks.distinct.size <= MaxCursors,
      s"RadixSelect.ranks: ${ks.distinct.size} cursors exceed MaxCursors=" +
        s"$MaxCursors (see the OR-chain bound in the scaladoc)")
    val mxV = mx.getOrElse {
      // cast: accept any integral value column (ADVICE r15 — getLong on an
      // IntegerType column throws; `div` results were always LongType).
      val mxRow = values.agg(max(col(valueCol).cast("long")).as("m")).collect()(0)
      require(!mxRow.isNullAt(0), EmptyRelation)
      mxRow.getLong(0)
    }
    requireInRange(mxV)
    val (levels, prev0) = liveLevels(mxV)
    var prev = prev0
    // original rank -> (remaining rank, selected prefix)
    var state: Map[Long, (Long, Long)] = ks.distinct.map(k => k -> (k, 0L)).toMap
    for (sh <- levels) {
      val ratio = 1L << (prev - sh)
      val first = sh == levels.head
      val livePrefixes = state.values.map(_._2).toSeq.distinct
      val inPfx =
        if (first) col(valueCol).isNotNull // every prefix is 0: see requireTrueMax
        else livePrefixes
          .map(p => expr(s"$valueCol div ${1L << prev}") === lit(p))
          .reduce(_ || _)
      val cnt = values.filter(inPfx)
        .groupBy(expr(s"$valueCol div ${1L << sh}").as("b"))
        .agg(count(lit(1)).as("t"))
        .collect()
        .map(r => (r.getAs[Long]("b"), r.getAs[Long]("t")))
        .sortBy(_._1)
      if (first) requireTrueMax(cnt.map(_._1), mxV, sh, "")
      state = state.map { case (k0, (kk, pfx)) =>
        val (b, base) = descend(cnt.filter(_._1 / ratio == pfx), kk, "")
        k0 -> (kk - base, b)
      }
      prev = sh
    }
    state.map { case (k, (_, pfx)) => k -> pfx }
  }

  /** Per-group k-th smallest values, all groups narrowed SIMULTANEOUSLY:
    * one (group, bucket) aggregation per radix level — shared across all
    * groups — instead of [[kth]]'s passes per group. The per-level
    * driver traffic grows from two scalars to ≤ |groups|·4096 bounded
    * count rows (bounded BY VALUE RANGE, not by data size — the same
    * bounded-driver-literal exception, one size up); the per-group
    * prefix-sum over those counts runs on the driver. Callers should
    * persist `values`.
    */
  def kthByGroup(values: DataFrame, groupCol: String, valueCol: String,
      ks: Map[String, Long], maxes: Option[Map[String, Long]] = None): Map[String, Long] =
    ranksByGroup(values, groupCol, valueCol,
      ks.map { case (g, k) => g -> Seq(k) }, maxes)
      .map { case ((g, _), v) => g -> v }

  /** MANY ranks per group, still one counting aggregation per live level:
    * all (group, rank) cursors narrow through the same per-level
    * (group, bucket) count relation — a bucket's prefix is
    * `bucket div 2^(prevShift-shift)`, so the driver routes each count
    * row to exactly the cursors whose selected prefix matches. This is
    * the exact grouped-percentile primitive: P10/P50/P90 across every
    * group costs the same passes as one median. Level skipping is
    * per-group (r16): each group descends only through the levels its own
    * max makes live, so a small-range group's rows stay out of the
    * high-level counting filters entirely. Pass `maxes` when the caller
    * already computed per-group max(value) (folds away the max pass).
    */
  def ranksByGroup(values: DataFrame, groupCol: String, valueCol: String,
      ks: Map[String, Seq[Long]],
      maxes: Option[Map[String, Long]] = None): Map[(String, Long), Long] = {
    require(ks.nonEmpty && ks.values.forall(s => s.nonEmpty && s.forall(_ >= 1)),
      s"bad ranks: $ks")
    val nCursors = ks.iterator.map(_._2.distinct.size).sum
    require(nCursors <= MaxCursors,
      s"RadixSelect.ranksByGroup: $nCursors (group, rank) cursors exceed " +
        s"MaxCursors=$MaxCursors (see the OR-chain bound in the scaladoc)")
    val mxByG: Map[String, Long] = maxes.getOrElse {
      values.groupBy(col(groupCol).as("g"))
        .agg(max(col(valueCol).cast("long")).as("m")).collect()
        .map(r => r.getAs[String]("g") -> r.getAs[Long]("m")).toMap
    }
    ks.keys.foreach { g =>
      require(mxByG.contains(g), s"rank selection over an empty group '$g'")
      requireInRange(mxByG(g))
    }
    // Per-group live levels; the loop walks the union. A group whose own
    // max sits below a level's span keeps prefix 0 and rank untouched
    // there — exactly what the counting pass would have concluded — so it
    // neither filters rows into nor consumes that level.
    val levelsByG = ks.keys.map(g => g -> liveLevels(mxByG(g))).toMap
    val allLevels = levelsByG.values.flatMap(_._1).toSeq.distinct.sorted.reverse
    // (group, original rank) -> (remaining rank, selected prefix)
    var state: Map[(String, Long), (Long, Long)] =
      ks.flatMap { case (g, rs) => rs.map(k => (g, k) -> (k, 0L)) }
    // Last level each live group was counted at (its current prefix's shift).
    var prevByG: Map[String, Int] = levelsByG.map { case (g, (_, p0)) => g -> p0 }
    for (sh <- allLevels) {
      val liveGroups = ks.keySet.filter(g => levelsByG(g)._1.contains(sh))
      val livePrefixes = state.toSeq
        .collect { case ((g, _), (_, pfx)) if liveGroups(g) => (g, pfx) }
        .distinct
      // groups counted for the first time: every prefix is 0 (requireTrueMax)
      val firstGroups = liveGroups.filter(g => levelsByG(g)._1.head == sh)
      val inPrefix = livePrefixes.map { case (g, pfx) =>
        (col(groupCol) === g) && (
          if (firstGroups(g)) col(valueCol).isNotNull
          else expr(s"$valueCol div ${1L << prevByG(g)}") === lit(pfx))
      }.reduce(_ || _)
      val cnt = values.filter(inPrefix)
        .groupBy(col(groupCol).as("g"),
          expr(s"$valueCol div ${1L << sh}").as("b"))
        .agg(count(lit(1)).as("t"))
        .collect()
        .groupBy(_.getAs[String]("g"))
      firstGroups.foreach { g =>
        requireTrueMax(cnt.getOrElse(g, Array.empty).map(_.getAs[Long]("b")),
          mxByG(g), sh, s" of group '$g'")
      }
      state = state.map {
        case ((g, k0), (kk, pfx)) if liveGroups(g) =>
          val ratio = 1L << (prevByG(g) - sh)
          val buckets = cnt.getOrElse(g, Array.empty)
            .map(r => (r.getAs[Long]("b"), r.getAs[Long]("t")))
            .filter(_._1 / ratio == pfx)
            .sortBy(_._1)
          val (b, base) = descend(buckets, kk, s"for group $g")
          (g, k0) -> (kk - base, b)
        case other => other
      }
      prevByG = prevByG.map { case (g, p) =>
        g -> (if (liveGroups(g)) sh else p)
      }
    }
    state.map { case (gk, (_, pfx)) => gk -> pfx }
  }
}
