package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryPack, Tables}

/** Classical hypothesis tests over `events` — the "is this shift real?"
  * decision table beyond [[StatsQueries]]: Fisher's exact 2x2, Wilcoxon
  * signed-rank (paired, nonparametric), Jarque-Bera normality, Cramer's V
  * effect size, the Wald-Wolfowitz runs test, and the Friedman blocked
  * rank test. Effect-size / experiment-design companions live in
  * [[InferenceEffectQueries]]; sequential and time-structured tests
  * (trend, outlier rounds, Granger, Chow) in
  * [[InferenceSequentialQueries]] — one file per family keeps each under
  * the repo's 1,000-line budget while the three packs share this
  * object's helpers (cents pinning, the epoch-midpoint half split).
  *
  * Determinism discipline (see [[Det]]): every quantity that ORDERS or
  * SELECTS rows is exact integer/DECIMAL arithmetic (cents, counts,
  * 2x-scaled average ranks, |n*x - s1| deviations); doubles appear only in
  * final closed-form statistics computed from identical operands in both
  * engines, pinned with round(,6).
  *
  * Scale shapes: everything aggregates events once to a bounded relation
  * (per-user, per-type-day, or per-cell) before any join; the one global
  * ranking (Wilcoxon) uses value-range shards + the triangular
  * prefix-bases join — a shard-partitioned window, never an unpartitioned
  * one (the text_pack_sequences discipline).
  */
object InferenceQueries extends QueryPack {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** Event-id cap for the Fisher-exact 2x2 sample — exact tests are a
    * small-table tool, and the cap keeps the hypergeometric support (and
    * so the whole computation) constant-size at any corpus scale. Shared
    * with [[InferenceEffectQueries]]'s odds ratio, which reads the SAME
    * bounded table.
    */
  val FisherSample = 500L

  private[relational] def cents(c: Column): Column =
    (c.cast(DecimalType(12, 2)) * 100).cast("long")

  private[relational] val CentsSql = "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"

  /** Value-range shards for the Wilcoxon global rank: a constant-size
    * offsets relation (prefix bases) at any scale; within a shard the rank
    * window is shard-partitioned. 64 shards keeps the triangular bases
    * join at 64^2/2 rows while bounding per-shard skew at ~1/64 of the
    * pair population for any non-degenerate |d| distribution.
    */
  val RankShards = 64

  /** Events split into equal time halves by epoch-microsecond midpoint
    * (the q_dq_drift_psi convention — integer `div`, never double `/`).
    * Shared with the effect-size pack's paired designs.
    */
  private[relational] def withHalf(ev: DataFrame): DataFrame = {
    val rng = ev.agg(min(col("us")).as("us0"), max(col("us")).as("us1"))
    ev.crossJoin(broadcast(rng))
      .withColumn("first_half", expr("us < us0 + (us1 - us0) div 2"))
      .drop("us0", "us1")
  }

  /** Friedman's blocked rank sums, shared by `q_stats_friedman` and Page's
    * L: daily per-type sums, the COMPLETE day blocks (every type traded),
    * doubled midranks r2 = 2·cntBelow + tieCnt + 1 from a day-keyed
    * self-join, then (event_type, n, rj2) per type. Returns (k, sums),
    * k = the one-row type count.
    */
  private def friedmanRankSums(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val daily = t(s, d, "events")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(cents(col("value"))).as("x"))
      .transform(graft.CacheScope.persisted(_))
    val k = daily.agg(countDistinct(col("event_type")).as("k"))
    val complete = daily.groupBy("day").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(k)).filter(col("c") === col("k"))
      .select(col("day"))
    val blocks = daily.join(complete, "day")
      .transform(graft.CacheScope.persisted(_))
    val sums = blocks.as("a")
      .join(blocks.select(col("day").as("bd"), col("x").as("bx")).as("b"),
        col("a.day") === col("bd"))
      .groupBy(col("a.day").as("day"), col("a.event_type").as("event_type"))
      .agg((lit(2) * sum(when(col("bx") < col("a.x"), 1L).otherwise(0L)) +
        sum(when(col("bx") === col("a.x"), 1L).otherwise(0L)) + 1).as("r2"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("r2")).as("rj2"))
    (k, sums)
  }

  /** Cochran-Q presence threshold (cents): a (type, day) block cell is
    * "positive" when the type logged at least one event of value >= this
    * that day — ~p99 of the value distribution, so presence genuinely
    * varies by day instead of saturating.
    */
  val CochranCents = 25000L

  private[relational] val HalfSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM events
      |), rng AS (SELECT min(us) AS us0, max(us) AS us1 FROM ev),
      |h AS (
      |  SELECT user_id, event_type, c,
      |         us < us0 + (us1 - us0) // 2 AS first_half
      |  FROM ev CROSS JOIN rng
      |)""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Wilcoxon signed-rank test: did per-user total spend shift between
    // the first and second half of the time range? The PAIRED rank-based
    // sibling of q_stats_mannwhitney (which compares independent
    // samples) — each user is their own control, so user-level variance
    // cancels. All rank machinery is exact integers: d = cents(H2) -
    // cents(H1) per user; rank2 = TWICE the average rank of |d|
    // (2*cntBelow + tieCnt + 1 — the q_stats_spearman trick, integral
    // even for x.5 average ranks); W2+ = sum of rank2 over positive d.
    // The normal approximation z = (W2 - n(n+1)/2)/sqrt(n(n+1)(2n+1)/6)
    // runs on identical doubles. Scale shape: one events-sized agg to
    // per-user rows, then the 64-shard range-partitioned rank (window is
    // shard-partitioned; shard offsets ride the triangular bases join
    // over a 64-row relation) — no global sort at any scale.
    // Fisher's exact test on a 2×2 over a BOUNDED order sample (the
    // key-range cap keeps the hypergeometric support constant at any
    // corpus scale — exact tests are for small tables; the chi-square
    // family covers the large-n regime). Log-binomials are built from
    // 9dp-pinned ln terms folded in exact DECIMAL (one aggregate HOF per
    // support point, ≤ sample² term evaluations total, no lgamma — Spark
    // has none and DuckDB's wouldn't match anyway), so every support
    // point's log-probability is bit-identical across engines; tail
    // membership (lp ≤ lp_obs + 1e-7, the standard two-sided rule)
    // therefore decides identically, and the p-values are decimal sums
    // of 12dp-pinned exp terms. Everything downstream of the one
    // filtered scan is a ≤ support-size relation.
    "q_stats_fisher_exact" -> ((s, d) => {
      val o = t(s, d, "events")
        .filter(col("event_id") < FisherSample)
        .select((col("event_type") === "purchase").cast("long").as("x"),
          (col("value") >= 50.0).cast("long").as("y"))
      val m = o.agg(count(lit(1)).as("n"), sum(col("x")).as("r1"),
        sum(col("y")).as("c1"), sum(col("x") * col("y")).as("a"))
      def lgC(aE: String, bE: String): String =
        s"""IF(($bE) = 0, CAST(0.0 AS DECIMAL(28,9)),
           |   aggregate(sequence(1L, CAST(($bE) AS BIGINT)),
           |     CAST(0.0 AS DECIMAL(28,9)),
           |     (acc, i) -> CAST(acc + CAST(round(ln(CAST(($aE) - ($bE) + i AS DOUBLE)
           |                                           / i), 9) AS DECIMAL(28,9))
           |                      AS DECIMAL(28,9))))""".stripMargin
      val sup = m
        .withColumn("lgn", expr(lgC("n", "c1")))
        .select(col("n"), col("r1"), col("c1"), col("a"), col("lgn"),
          explode(sequence(greatest(lit(0L), col("r1") + col("c1") - col("n")),
            least(col("r1"), col("c1")))).as("k"))
        .withColumn("lp",
          expr(lgC("r1", "k")) + expr(lgC("n - r1", "c1 - k")) - col("lgn"))
        .transform(graft.CacheScope.persisted(_))
      val obs = sup.filter(col("k") === col("a"))
        .select(col("lp").as("lp_obs"))
      val joined = sup.crossJoin(broadcast(obs))
      val pTerm = round(exp(col("lp").cast("double")), 12)
        .cast(DecimalType(16, 12))
      joined.agg(
          min(col("n")).as("n"), min(col("r1")).as("r1"),
          min(col("c1")).as("c1"), min(col("a")).as("a"),
          round(min(col("lp_obs")).cast("double"), 6).as("lp_obs"),
          sum(when(col("k") >= col("a"), pTerm)
            .otherwise(lit(0.0).cast(DecimalType(16, 12))))
            .cast("double").as("pg0"),
          sum(when(col("lp") <= col("lp_obs") + lit(1e-7), pTerm)
            .otherwise(lit(0.0).cast(DecimalType(16, 12))))
            .cast("double").as("pt0"))
        .select(col("n"), col("r1"), col("c1"), col("a"), col("lp_obs"),
          round(col("pg0"), 9).as("p_greater"),
          round(col("pt0"), 9).as("p_two_sided"))
    }),

    "q_stats_wilcoxon" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          cents(col("value")).as("c"))
      val u = withHalf(ev)
        .groupBy("user_id")
        .agg(sum(when(col("first_half"), col("c")).otherwise(0L)).as("s1"),
          sum(when(col("first_half"), 0L).otherwise(col("c"))).as("s2"))
        .select((col("s2") - col("s1")).as("d"))
        .filter(col("d") =!= 0)
        .select(col("d"), abs(col("d")).as("a"))
      // Distinct-|d| tie groups: cnt per group + how many are positive.
      val grp = u.groupBy("a")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
        .transform(graft.CacheScope.persisted(_))
      val rng = grp.agg(min(col("a")).as("a0"), max(col("a")).as("a1"))
      val sharded = grp.crossJoin(broadcast(rng))
        .withColumn("shard",
          expr(s"(a - a0) * $RankShards div (a1 - a0 + 1)"))
        .transform(graft.CacheScope.persisted(_))
      val totals = sharded.groupBy("shard").agg(sum(col("cnt")).as("t"))
      val bases = graft.text.TextAnalysisQueries
        .prefixBases(totals, "shard", desc = false)
      val cumBefore = sum(col("cnt")).over(
        Window.partitionBy("shard").orderBy("a")
          .rowsBetween(Window.unboundedPreceding, -1))
      val ranked = sharded.join(broadcast(bases), "shard")
        .select(col("pos"), col("cnt"),
          (col("base") + coalesce(cumBefore, lit(0L))).as("below"))
        .select(col("pos"), col("cnt"),
          (lit(2) * col("below") + col("cnt") + 1).as("rank2"))
      // n from the tie-group counts, W2+ from pos * rank2 — both exact.
      val m = ranked
        .agg(sum(col("cnt")).as("n"), sum(col("pos") * col("rank2")).as("w2"))
        .filter(col("n") > 0)
      m.select(col("n").cast("long").as("n_pairs"),
          (col("w2").cast("double") / 2).as("w_plus"),
          round((col("w2").cast("double") -
              (col("n") * (col("n") + 1)).cast("double") / 2) /
            sqrt((col("n") * (col("n") + 1) * (lit(2) * col("n") + 1)).cast("double") / 6),
            6).as("z"))
    }),

    // Jarque–Bera normality test of the per-type daily-total distribution:
    // JB = n/6 * (S^2 + (K-3)^2/4) from skewness and kurtosis. The daily
    // totals are exact cents; central moments come from power sums of the
    // SHIFTED series x - (s1 div n) — the integer shift keeps the decimal
    // power sums ~1e18 instead of ~1e32, far from both the DECIMAL(38)
    // clamp and the decimal->double conversion divergence (the
    // q_graph_assortativity lesson). The moment formulas then run on
    // identical doubles in both engines, pinned at 6dp. Scale shape: one
    // events-sized agg to type×day, a broadcast per-type shift join, one
    // bounded agg — no window, no collect.
    "q_stats_jarque_bera" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(cents(col("value"))).as("x"))
        .transform(graft.CacheScope.persisted(_))
      // Integer `div` for the shift in BOTH engines: Spark casts
      // double->long by truncation but DuckDB ROUNDS, so a double mean
      // here would silently diverge.
      val shift = daily.groupBy("event_type")
        .agg(expr("sum(x) div count(1)").as("m0"))
      val xc = (col("x") - col("m0")).cast(DecimalType(12, 0))
      // s4's factors are DECIMAL(19): 19+19=38 is the widest product
      // BOTH engines accept (DuckDB errors past 38 rather than clamping);
      // values fit while |xc| <= ~3e9 cents — the documented dial.
      val m = daily.join(broadcast(shift), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(xc).as("s1d"),
          sum(xc * xc).as("s2d"),
          sum((xc * xc).cast(DecimalType(24, 0)) * xc).as("s3d"),
          sum((xc * xc).cast(DecimalType(19, 0)) *
            (xc * xc).cast(DecimalType(19, 0))).as("s4d"))
        .filter(col("n") >= 8 &&
          col("n") * col("s2d") - col("s1d") * col("s1d") > 0)
        .select(col("event_type"), col("n"),
          col("n").cast("double").as("nd"), col("s1d").cast("double").as("p1"),
          col("s2d").cast("double").as("p2"), col("s3d").cast("double").as("p3"),
          col("s4d").cast("double").as("p4"))
      // Identical-text double formulas (see matching oracle SQL).
      m.select(col("event_type"), col("n").cast("long").as("n_days"),
          expr("p1 / nd").as("mu"), col("nd"), col("p2"), col("p3"), col("p4"))
        .select(col("event_type"), col("n_days"),
          expr("p2 / nd - mu * mu").as("m2"),
          expr("p3 / nd - 3 * mu * (p2 / nd) + 2 * mu * mu * mu").as("m3"),
          expr("p4 / nd - 4 * mu * (p3 / nd) + 6 * mu * mu * (p2 / nd) " +
            "- 3 * mu * mu * mu * mu").as("m4"),
          col("nd"))
        .select(col("event_type"), col("n_days"),
          expr("m3 / (m2 * sqrt(m2))").as("skew"),
          expr("m4 / (m2 * m2)").as("kurt"), col("nd"))
        .select(col("event_type"), col("n_days"),
          round(col("skew"), 6).as("skewness"),
          round(col("kurt"), 6).as("kurtosis"),
          round(expr("nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4)"),
            6).as("jb"))
    }),

    // Cramér's V: the [0,1] effect size of the event_type × time-of-day
    // association that q_stats_chisq tests — V = sqrt(chi2 / (n *
    // min(r-1, c-1))). A chi-squared p-value at 100 TB is always ~0
    // (everything is "significant" at n=1e12); V is the number that
    // still means something, which is why it ships as its own operator.
    // Same exact-margins + round(,6)-pinned-contribution DECIMAL sum as
    // q_stats_chisq; one row out.
    "q_stats_cramers_v" -> ((s, d) => {
      val cells = t(s, d, "events")
        .groupBy(col("event_type"), (hour(col("ts")) / lit(6)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("o"))
        .transform(graft.CacheScope.persisted(_))
      val rt = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
      val ct = cells.groupBy("bucket").agg(sum(col("o")).as("ct"))
      val g = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("bucket")).as("c"))
      val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
      val contrib = round((col("o").cast("double") - e) *
        (col("o").cast("double") - e) / e, 6)
      val chi2 = cells.join(rt, "event_type").join(ct, "bucket")
        .crossJoin(broadcast(g))
        .select(contrib.cast(DecimalType(18, 6)).as("contrib"))
        .agg(sum(col("contrib")).cast("double").as("chi2"))
      g.crossJoin(broadcast(chi2))
        .select(col("n").cast("long").as("n"), col("r").cast("long").as("r"),
          col("c").cast("long").as("c"), col("chi2"),
          round(sqrt(col("chi2") /
            (col("n").cast("double") * least(col("r") - 1, col("c") - 1).cast("double"))),
            6).as("cramers_v"))
    }),

    // Wald–Wolfowitz runs test: is each type's daily-total series RANDOM
    // around its mean, or does it trend/oscillate? The independence check
    // that belongs before any i.i.d.-assuming test above. Above/below is
    // the EXACT integer comparison n*x > s1 (ties count as below — a
    // deterministic convention both engines share); runs count from one
    // lag window over the bounded per-type daily relation; the normal
    // approximation z assembles on identical doubles. Scale shape: one
    // events-sized agg, one broadcast mean join, one partitioned window.
    "q_stats_runs" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(cents(col("value"))).as("x"))
        .transform(graft.CacheScope.persisted(_))
      val m = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val signed = daily.join(broadcast(m), "event_type")
        .select(col("event_type"),
          col("day"), (col("n") * col("x") > col("s1")).as("up"))
      val agg = signed
        .withColumn("brk",
          when(lag(col("up"), 1).over(w).isNull ||
            lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("nd"),
          sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("up"), 0L).otherwise(1L)).as("n2"),
          sum(col("brk")).as("runs"))
        .filter(col("n1") > 0 && col("n2") > 0 && col("nd") >= 3)
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = n1d + n2d
      val mu = lit(2.0) * n1d * n2d / nd + 1
      val v = lit(2.0) * n1d * n2d * (lit(2.0) * n1d * n2d - nd) /
        (nd * nd * (nd - 1))
      agg.filter(v > 0)
        .select(col("event_type"), col("nd").cast("long").as("n_days"),
          col("n1").cast("long").as("n_above"),
          col("n2").cast("long").as("n_below"),
          col("runs").cast("long").as("runs"),
          round((col("runs").cast("double") - mu) / sqrt(v), 6).as("z"))
    }),

    // Friedman test: do the event types RANK consistently within each
    // day (blocked repeated-measures), or is the daily ordering noise?
    // The blocked sibling of q_stats_kruskal (independent samples) —
    // day-level market effects cancel because ranking happens INSIDE
    // each day. Ranks are the exact 2×-average-rank integers
    // (2·cntBelow + tieCnt + 1) from a day-keyed self-join whose fan-out
    // is |types|² per day — bounded, no window, no global sort; only
    // COMPLETE blocks (days where every type traded) enter, the
    // textbook requirement. χ² assembles on identical doubles.
    "q_stats_friedman" -> ((s, d) => {
      val (k, rankSums) = friedmanRankSums(s, d)
      val sums = rankSums.transform(graft.CacheScope.persisted(_))
      val chi = sums.crossJoin(broadcast(k))
        .agg(first(col("k")).as("k"), first(col("n")).as("n"),
          sum(col("rj2") * col("rj2")).as("sr2"))
        .filter(col("n") > 0 && col("k") >= 2)
        .select(col("k"),
          round(lit(3.0) * col("sr2").cast("double") /
            (col("n").cast("double") * col("k").cast("double") *
              (col("k").cast("double") + 1)) -
            lit(3.0) * col("n").cast("double") * (col("k").cast("double") + 1),
            6).as("chi2"))
      sums.crossJoin(broadcast(chi))
        .select(col("event_type"), col("n").cast("long").as("n_blocks"),
          round(col("rj2").cast("double") / (lit(2.0) * col("n").cast("double")),
            6).as("mean_rank"),
          col("k").cast("long").as("k"), col("chi2"))
    }),

    // Page's L trend test: the ORDERED alternative to q_stats_friedman —
    // not "do the k event types differ per day?" but "do they differ in
    // a fixed direction?" (treatments ordered alphabetically here; a real
    // deployment orders by dose/version/date). Reuses the friedman rank
    // machinery verbatim: complete day blocks, doubled midranks r2 (exact
    // integers), rank sums R_j — then L = sum_j j*R_j with j the
    // treatment's 1-based alphabetical index, computed as a bounded
    // triangular self-count over the k-row sums relation (never a window,
    // so no unpartitioned WindowExec). L2 = 2L stays an exact integer
    // through every aggregate; the normal approximation
    // z = (12L - 3bk(k+1)^2) / (k(k+1)*sqrt(b(k-1))) is one final pinned
    // double expression over identical operands in both engines.
    "q_stats_page_trend" -> ((s, d) => {
      // Rank-sum relation through LabelsMemo (r16, the q_rec_coverage
      // discipline): Page's L is the ORDERED readout of the SAME blocked
      // midrank machinery q_stats_friedman benches raw end to end (its
      // registration above is untouched) — at 100 TB the per-type rank
      // sums are a managed table the trend test reads, not a day-blocked
      // self-join it replays. Memo-cold mode re-pays this thunk, which is
      // friedman's own prefix.
      val sums = graft.LabelsMemo.getOrCompute(s"friedman_sums:$d", s)(
        friedmanRankSums(s, d)._2)
      val ord = sums.select(col("event_type").as("t1"))
        .join(broadcast(sums.select(col("event_type").as("t2"))),
          col("t2") <= col("t1"))
        .groupBy(col("t1").as("event_type")).agg(count(lit(1)).as("j"))
      val kd = col("k").cast("double")
      val bd = col("b").cast("double")
      val ld = col("l2").cast("double") / 2.0
      sums.join(broadcast(ord), "event_type")
        .agg(count(lit(1)).as("k"), max(col("n")).as("b"),
          sum(col("j") * col("rj2")).as("l2"))
        .filter(col("k") >= 2)
        .select(col("k").cast("long").as("k_treatments"),
          col("b").cast("long").as("n_blocks"),
          round(ld, 6).as("page_l"),
          round((lit(12.0) * ld - lit(3.0) * bd * kd * (kd + 1) * (kd + 1)) /
            (kd * (kd + 1) * sqrt(bd * (kd - 1))), 6).as("z"))
    }),

    // Cochran's Q: the BINARY sibling of q_stats_friedman — did the k
    // event types "fire" (log a >= CochranCents event) on the same days,
    // or do the daily hit patterns differ by type? Blocks are days,
    // x_ij ∈ {0,1} is presence, and with G_j = per-type hit totals and
    // L_i = per-day hit totals, Q = (k−1)(k·ΣG² − N²)/(k·N − ΣL²) — ALL
    // exact integers down to the one final division (absent cells are
    // honest zeros, so only the presence relation is ever aggregated).
    // One events-sized scan to the distinct presence cells, then
    // constant-size aggregates.
    "q_stats_cochran_q" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"),
          cents(col("value")).as("c"))
        .transform(graft.CacheScope.persisted(_))
      val pres = ev.filter(col("c") >= CochranCents)
        .select(col("event_type"), col("day")).distinct()
        .transform(graft.CacheScope.persisted(_))
      val kb = ev.agg(countDistinct(col("event_type")).as("k"),
        countDistinct(col("day")).as("b"))
      val gj = pres.groupBy("event_type").agg(count(lit(1)).as("g"))
        .agg(sum(col("g")).as("nn"), sum(col("g") * col("g")).as("sg2"))
      val li = pres.groupBy("day").agg(count(lit(1)).as("l"))
        .agg(sum(col("l") * col("l")).as("sl2"))
      kb.crossJoin(broadcast(gj)).crossJoin(broadcast(li))
        .filter(col("k") * col("nn") - col("sl2") > 0)
        .select(col("k").cast("long").as("k_treatments"),
          col("b").cast("long").as("n_blocks"),
          col("nn").cast("long").as("n_hits"),
          round(((col("k") - 1) *
              (col("k") * col("sg2") - col("nn") * col("nn"))).cast("double") /
            (col("k") * col("nn") - col("sl2")).cast("double"), 6).as("q_stat"))
    }),

    // Mood's median test: do the event types share a common median value?
    // The pooled LOWER median (rank (N+1) div 2 — an actual data value)
    // comes from [[graft.operators.RadixSelect]] (exact distributed
    // selection, no sort); each type's above/at-or-below counts against
    // that single cut are exact integers, and the 2×k chi-square
    // assembles from round(,6)-pinned contributions summed in DECIMAL
    // (the q_stats_cramers_v discipline). The rank test to reach for
    // when outliers make q_stats_anova's means meaningless but the
    // groups' SHAPES differ too much for q_stats_kruskal.
    "q_stats_mood_median" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), cents(col("value")).as("c"))
        .transform(graft.CacheScope.persisted(_))
      // n and max(c) in one pass; max feeds RadixSelect's level skip (r16).
      val nmx = ev.agg(count(lit(1)).as("n"), max(col("c")).as("mx")).collect()(0)
      val nTot = nmx.getAs[Long]("n")
      val m = graft.operators.RadixSelect.kth(
        ev.select(col("c").as("v")), "v", (nTot + 1) / 2,
        graft.operators.RadixSelect.maxOf(nmx))
      val g = ev.groupBy("event_type")
        .agg(count(lit(1)).as("ng"),
          sum(when(col("c") > m, 1L).otherwise(0L)).as("ag"))
        .transform(graft.CacheScope.persisted(_))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("ag")).as("aa"))
      val ea = col("ng").cast("double") * col("aa").cast("double") /
        col("n").cast("double")
      val el = col("ng").cast("double") *
        (col("n") - col("aa")).cast("double") / col("n").cast("double")
      val ad = col("ag").cast("double")
      val ld = (col("ng") - col("ag")).cast("double")
      val contrib = round((ad - ea) * (ad - ea) / ea +
        (ld - el) * (ld - el) / el, 6)
      g.crossJoin(broadcast(tot))
        .filter(col("aa") > 0 && col("aa") < col("n"))
        .select(col("n"), contrib.cast(DecimalType(18, 6)).as("contrib"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("k_groups"),
          sum(col("contrib")).cast("double").as("chi2d"))
        .select(col("n").as("n_total"), col("k_groups"),
          round(lit(m).cast("double") / 100.0, 2).as("pooled_median"),
          round(col("chi2d"), 6).as("chi2"))
    }))

  override val oracles: Map[String, String] = Map(

    "q_stats_fisher_exact" ->
      s"""WITH o AS (
         |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
         |         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS y
         |  FROM events WHERE event_id < $FisherSample
         |), m AS (
         |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS r1,
         |         CAST(sum(y) AS BIGINT) AS c1, CAST(sum(x * y) AS BIGINT) AS a
         |  FROM o
         |), lgn AS (
         |  SELECT CAST(sum(CAST(round(ln(CAST(n - c1 + i AS DOUBLE) / i), 9)
         |                       AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS lgn
         |  FROM (SELECT n, c1, unnest(range(1, c1 + 1)) AS i FROM m)
         |), ks AS (
         |  SELECT n, r1, c1, a,
         |         unnest(range(greatest(0, r1 + c1 - n), least(r1, c1) + 1)) AS k
         |  FROM m
         |), t1 AS (
         |  SELECT k, CAST(sum(CAST(round(ln(CAST(r1 - k + i AS DOUBLE) / i), 9)
         |                          AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS lg1
         |  FROM (SELECT k, r1, unnest(range(1, k + 1)) AS i FROM ks) GROUP BY k
         |), t2 AS (
         |  SELECT k, CAST(sum(CAST(round(ln(CAST(n - r1 - (c1 - k) + i AS DOUBLE) / i), 9)
         |                          AS DECIMAL(28,9))) AS DECIMAL(28,9)) AS lg2
         |  FROM (SELECT k, n, r1, c1, unnest(range(1, c1 - k + 1)) AS i FROM ks)
         |  GROUP BY k
         |), lp AS (
         |  SELECT ks.n, ks.r1, ks.c1, ks.a, ks.k,
         |         COALESCE(t1.lg1, CAST(0.0 AS DECIMAL(28,9)))
         |           + COALESCE(t2.lg2, CAST(0.0 AS DECIMAL(28,9)))
         |           - lgn.lgn AS lp
         |  FROM ks LEFT JOIN t1 USING (k) LEFT JOIN t2 USING (k) CROSS JOIN lgn
         |), obs AS (SELECT lp AS lp_obs FROM lp WHERE k = a)
         |SELECT min(lp.n) AS n, min(lp.r1) AS r1, min(lp.c1) AS c1,
         |       min(lp.a) AS a,
         |       round(CAST(min(o.lp_obs) AS DOUBLE), 6) AS lp_obs,
         |       round(CAST(sum(CASE WHEN lp.k >= lp.a
         |                  THEN CAST(round(exp(CAST(lp.lp AS DOUBLE)), 12) AS DECIMAL(16,12))
         |                  ELSE CAST(0.0 AS DECIMAL(16,12)) END) AS DOUBLE), 9)
         |         AS p_greater,
         |       round(CAST(sum(CASE WHEN CAST(lp.lp AS DOUBLE) <= CAST(o.lp_obs AS DOUBLE) + 1e-7
         |                  THEN CAST(round(exp(CAST(lp.lp AS DOUBLE)), 12) AS DECIMAL(16,12))
         |                  ELSE CAST(0.0 AS DECIMAL(16,12)) END) AS DOUBLE), 9)
         |         AS p_two_sided
         |FROM lp CROSS JOIN obs o""".stripMargin,

    "q_stats_wilcoxon" ->
      s"""$HalfSql, u AS (
         |  SELECT user_id,
         |         sum(CASE WHEN first_half THEN c ELSE 0 END) AS s1,
         |         sum(CASE WHEN first_half THEN 0 ELSE c END) AS s2
         |  FROM h GROUP BY 1
         |), dd AS (
         |  SELECT s2 - s1 AS d, abs(s2 - s1) AS a FROM u WHERE s2 <> s1
         |), r AS (
         |  SELECT d, 2 * rank() OVER (ORDER BY a)
         |            + count(*) OVER (PARTITION BY a) - 1 AS rank2
         |  FROM dd
         |), agg AS (
         |  SELECT count(*) AS n,
         |         sum(CASE WHEN d > 0 THEN rank2 ELSE 0 END) AS w2
         |  FROM r
         |)
         |SELECT CAST(n AS BIGINT) AS n_pairs,
         |       CAST(w2 AS DOUBLE) / 2 AS w_plus,
         |       round((CAST(w2 AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2) /
         |             sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 6),
         |             6) AS z
         |FROM agg WHERE n > 0""".stripMargin,

    "q_stats_jarque_bera" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         sum($CentsSql) AS x
         |  FROM events GROUP BY 1, 2
         |), shift AS (
         |  SELECT event_type, CAST(sum(x) AS BIGINT) // count(*) AS m0
         |  FROM daily GROUP BY 1
         |), mm AS (
         |  SELECT d.event_type, count(*) AS n,
         |         sum(CAST(d.x - s.m0 AS DECIMAL(12,0))) AS s1d,
         |         sum(CAST(d.x - s.m0 AS DECIMAL(12,0)) *
         |             CAST(d.x - s.m0 AS DECIMAL(12,0))) AS s2d,
         |         sum(CAST(CAST(d.x - s.m0 AS DECIMAL(12,0)) *
         |                  CAST(d.x - s.m0 AS DECIMAL(12,0)) AS DECIMAL(24,0)) *
         |             CAST(d.x - s.m0 AS DECIMAL(12,0))) AS s3d,
         |         sum(CAST(CAST(d.x - s.m0 AS DECIMAL(12,0)) *
         |                  CAST(d.x - s.m0 AS DECIMAL(12,0)) AS DECIMAL(19,0)) *
         |             CAST(CAST(d.x - s.m0 AS DECIMAL(12,0)) *
         |                  CAST(d.x - s.m0 AS DECIMAL(12,0)) AS DECIMAL(19,0))) AS s4d
         |  FROM daily d JOIN shift s ON s.event_type = d.event_type
         |  GROUP BY 1
         |), f AS (
         |  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
         |         CAST(s1d AS DOUBLE) AS p1, CAST(s2d AS DOUBLE) AS p2,
         |         CAST(s3d AS DOUBLE) AS p3, CAST(s4d AS DOUBLE) AS p4
         |  FROM mm WHERE n >= 8 AND n * s2d - s1d * s1d > 0
         |), c1 AS (
         |  SELECT event_type, n, nd, p1 / nd AS mu, p2, p3, p4 FROM f
         |), c2 AS (
         |  SELECT event_type, n, nd,
         |         p2 / nd - mu * mu AS m2,
         |         p3 / nd - 3 * mu * (p2 / nd) + 2 * mu * mu * mu AS m3,
         |         p4 / nd - 4 * mu * (p3 / nd) + 6 * mu * mu * (p2 / nd)
         |           - 3 * mu * mu * mu * mu AS m4
         |  FROM c1
         |), c3 AS (
         |  SELECT event_type, n, nd,
         |         m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt
         |  FROM c2
         |)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |       round(skew, 6) AS skewness, round(kurt, 6) AS kurtosis,
         |       round(nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4), 6) AS jb
         |FROM c3""".stripMargin,

    "q_stats_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(hour(ts) // 6 AS INTEGER) AS bucket,
        |         count(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT bucket, sum(o) AS ct FROM cells GROUP BY 1),
        |g AS (
        |  SELECT sum(o) AS n, count(DISTINCT event_type) AS r,
        |         count(DISTINCT bucket) AS c
        |  FROM cells
        |), chi AS (
        |  SELECT CAST(sum(CAST(round(
        |           (CAST(cl.o AS DOUBLE) - CAST(r.rt * t.ct AS DOUBLE) / CAST(g.n AS DOUBLE)) *
        |           (CAST(cl.o AS DOUBLE) - CAST(r.rt * t.ct AS DOUBLE) / CAST(g.n AS DOUBLE)) /
        |           (CAST(r.rt * t.ct AS DOUBLE) / CAST(g.n AS DOUBLE)),
        |           6) AS DECIMAL(18,6))) AS DOUBLE) AS chi2
        |  FROM cells cl
        |  JOIN rt r ON r.event_type = cl.event_type
        |  JOIN ct t ON t.bucket = cl.bucket
        |  CROSS JOIN g
        |)
        |SELECT CAST(g.n AS BIGINT) AS n, CAST(g.r AS BIGINT) AS r,
        |       CAST(g.c AS BIGINT) AS c, chi.chi2,
        |       round(sqrt(chi.chi2 /
        |             (CAST(g.n AS DOUBLE) * CAST(least(g.r - 1, g.c - 1) AS DOUBLE))),
        |             6) AS cramers_v
        |FROM g CROSS JOIN chi""".stripMargin,

    "q_stats_runs" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         sum($CentsSql) AS x
         |  FROM events GROUP BY 1, 2
         |), m AS (
         |  SELECT event_type, count(*) AS n, sum(x) AS s1 FROM daily GROUP BY 1
         |), signed AS (
         |  SELECT d.event_type, d.day, m.n * d.x > m.s1 AS up
         |  FROM daily d JOIN m ON m.event_type = d.event_type
         |), brk AS (
         |  SELECT event_type, up,
         |         CASE WHEN lag(up, 1) OVER tw IS NULL
         |                OR lag(up, 1) OVER tw <> up THEN 1 ELSE 0 END AS brk
         |  FROM signed
         |  WINDOW tw AS (PARTITION BY event_type ORDER BY day)
         |), agg AS (
         |  SELECT event_type, count(*) AS nd,
         |         sum(CASE WHEN up THEN 1 ELSE 0 END) AS n1,
         |         sum(CASE WHEN up THEN 0 ELSE 1 END) AS n2,
         |         sum(brk) AS runs
         |  FROM brk GROUP BY 1
         |  HAVING n1 > 0 AND n2 > 0 AND nd >= 3
         |), f AS (
         |  SELECT event_type, nd, n1, n2, runs,
         |         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
         |  FROM agg
         |)
         |SELECT event_type, CAST(nd AS BIGINT) AS n_days,
         |       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
         |       CAST(runs AS BIGINT) AS runs,
         |       round((CAST(runs AS DOUBLE) -
         |              (2.0 * n1d * n2d / (n1d + n2d) + 1)) /
         |             sqrt(2.0 * n1d * n2d * (2.0 * n1d * n2d - (n1d + n2d)) /
         |                  ((n1d + n2d) * (n1d + n2d) * ((n1d + n2d) - 1))),
         |             6) AS z
         |FROM f
         |WHERE 2.0 * n1d * n2d * (2.0 * n1d * n2d - (n1d + n2d)) /
         |      ((n1d + n2d) * (n1d + n2d) * ((n1d + n2d) - 1)) > 0""".stripMargin,

    "q_stats_friedman" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         sum($CentsSql) AS x
         |  FROM events GROUP BY 1, 2
         |), kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
         |complete AS (
         |  SELECT day FROM daily GROUP BY 1
         |  HAVING count(*) = (SELECT k FROM kk)
         |), blocks AS (
         |  SELECT d.* FROM daily d JOIN complete c ON c.day = d.day
         |), rank2 AS (
         |  SELECT a.day, a.event_type,
         |         2 * sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END) +
         |         sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1 AS r2
         |  FROM blocks a JOIN blocks b ON b.day = a.day
         |  GROUP BY 1, 2
         |), sums AS (
         |  SELECT event_type, count(*) AS n, sum(r2) AS rj2
         |  FROM rank2 GROUP BY 1
         |), chi AS (
         |  SELECT max(kk.k) AS k, max(s.n) AS n,
         |         round(3.0 * CAST(sum(s.rj2 * s.rj2) AS DOUBLE) /
         |               (CAST(max(s.n) AS DOUBLE) * CAST(max(kk.k) AS DOUBLE) *
         |                (CAST(max(kk.k) AS DOUBLE) + 1)) -
         |               3.0 * CAST(max(s.n) AS DOUBLE) *
         |               (CAST(max(kk.k) AS DOUBLE) + 1), 6) AS chi2
         |  FROM sums s CROSS JOIN kk
         |  HAVING max(s.n) > 0 AND max(kk.k) >= 2
         |)
         |SELECT s.event_type, CAST(s.n AS BIGINT) AS n_blocks,
         |       round(CAST(s.rj2 AS DOUBLE) / (2.0 * CAST(s.n AS DOUBLE)), 6)
         |         AS mean_rank,
         |       CAST(c.k AS BIGINT) AS k, c.chi2
         |FROM sums s CROSS JOIN chi c""".stripMargin,

    "q_stats_page_trend" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         sum($CentsSql) AS x
         |  FROM events GROUP BY 1, 2
         |), kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
         |complete AS (
         |  SELECT day FROM daily GROUP BY 1
         |  HAVING count(*) = (SELECT k FROM kk)
         |), blocks AS (
         |  SELECT d.* FROM daily d JOIN complete c ON c.day = d.day
         |), rank2 AS (
         |  SELECT a.day, a.event_type,
         |         2 * sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END) +
         |         sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1 AS r2
         |  FROM blocks a JOIN blocks b ON b.day = a.day
         |  GROUP BY 1, 2
         |), sums AS (
         |  SELECT event_type, count(*) AS n, sum(r2) AS rj2
         |  FROM rank2 GROUP BY 1
         |), ord AS (
         |  SELECT a.event_type, count(*) AS j
         |  FROM sums a JOIN sums b ON b.event_type <= a.event_type
         |  GROUP BY 1
         |)
         |SELECT CAST(count(*) AS BIGINT) AS k_treatments,
         |       CAST(max(s.n) AS BIGINT) AS n_blocks,
         |       round(CAST(sum(o.j * s.rj2) AS DOUBLE) / 2.0, 6) AS page_l,
         |       round((12.0 * (CAST(sum(o.j * s.rj2) AS DOUBLE) / 2.0) -
         |              3.0 * CAST(max(s.n) AS DOUBLE) *
         |              CAST(count(*) AS DOUBLE) *
         |              (CAST(count(*) AS DOUBLE) + 1) *
         |              (CAST(count(*) AS DOUBLE) + 1)) /
         |             (CAST(count(*) AS DOUBLE) *
         |              (CAST(count(*) AS DOUBLE) + 1) *
         |              sqrt(CAST(max(s.n) AS DOUBLE) *
         |                   (CAST(count(*) AS DOUBLE) - 1))), 6) AS z
         |FROM sums s JOIN ord o ON o.event_type = s.event_type
         |HAVING count(*) >= 2""".stripMargin,

    "q_stats_cochran_q" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |         $CentsSql AS c
         |  FROM events
         |), kb AS (
         |  SELECT count(DISTINCT event_type) AS k,
         |         count(DISTINCT day) AS b
         |  FROM ev
         |), pres AS (
         |  SELECT DISTINCT event_type, day FROM ev WHERE c >= $CochranCents
         |), gj AS (
         |  SELECT CAST(sum(g) AS BIGINT) AS nn,
         |         CAST(sum(g * g) AS BIGINT) AS sg2
         |  FROM (SELECT event_type, count(*) AS g FROM pres GROUP BY 1)
         |), li AS (
         |  SELECT CAST(sum(l * l) AS BIGINT) AS sl2
         |  FROM (SELECT day, count(*) AS l FROM pres GROUP BY 1)
         |)
         |SELECT CAST(kb.k AS BIGINT) AS k_treatments,
         |       CAST(kb.b AS BIGINT) AS n_blocks, gj.nn AS n_hits,
         |       round(CAST((kb.k - 1) * (kb.k * gj.sg2 - gj.nn * gj.nn) AS DOUBLE) /
         |             CAST(kb.k * gj.nn - li.sl2 AS DOUBLE), 6) AS q_stat
         |FROM kb CROSS JOIN gj CROSS JOIN li
         |WHERE kb.k * gj.nn - li.sl2 > 0""".stripMargin,

    "q_stats_mood_median" ->
      s"""WITH ev AS (
         |  SELECT event_type, $CentsSql AS c FROM events
         |), med AS (
         |  SELECT c AS m FROM (
         |    SELECT c, row_number() OVER (ORDER BY c) AS rn FROM ev)
         |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM ev)
         |), g AS (
         |  SELECT event_type, count(*) AS ng,
         |         CAST(sum(CASE WHEN c > (SELECT m FROM med)
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS ag
         |  FROM ev GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(ng) AS BIGINT) AS n,
         |         CAST(sum(ag) AS BIGINT) AS aa FROM g
         |), cells AS (
         |  SELECT tot.n,
         |         CAST(round(
         |           (CAST(ag AS DOUBLE) -
         |              CAST(ng AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(n AS DOUBLE)) *
         |           (CAST(ag AS DOUBLE) -
         |              CAST(ng AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(n AS DOUBLE)) /
         |           (CAST(ng AS DOUBLE) * CAST(aa AS DOUBLE) / CAST(n AS DOUBLE)) +
         |           (CAST(ng - ag AS DOUBLE) -
         |              CAST(ng AS DOUBLE) * CAST(n - aa AS DOUBLE) / CAST(n AS DOUBLE)) *
         |           (CAST(ng - ag AS DOUBLE) -
         |              CAST(ng AS DOUBLE) * CAST(n - aa AS DOUBLE) / CAST(n AS DOUBLE)) /
         |           (CAST(ng AS DOUBLE) * CAST(n - aa AS DOUBLE) / CAST(n AS DOUBLE)),
         |           6) AS DECIMAL(18,6)) AS contrib
         |  FROM g CROSS JOIN tot
         |  WHERE aa > 0 AND aa < n
         |)
         |SELECT n AS n_total, count(*) AS k_groups,
         |       round(CAST((SELECT m FROM med) AS DOUBLE) / 100.0, 2)
         |         AS pooled_median,
         |       round(CAST(sum(contrib) AS DOUBLE), 6) AS chi2
         |FROM cells GROUP BY n""".stripMargin)
}
