package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryPack, Tables}

/** Sequential-decision and calibration operators: Wald's SPRT (the
  * always-valid sequential A/B test that stops the experiment the moment
  * the evidence crosses a boundary, instead of waiting for a fixed n)
  * and isotonic regression (the monotone probability calibration a score
  * consumer runs before thresholding, Zadrozny & Elkan 2002).
  *
  * Scale discipline: SPRT's per-day log-likelihood terms are round(,9)-
  * pinned into exact DECIMAL prefix sums over the calendar-bounded daily
  * relation (the prefix join is days², corpus-size-free). Isotonic uses
  * the MINIMAX closed form fit(k) = max_{i<=k} min_{j>=k} avg(i..j)
  * instead of the sequential PAVA stack — every relation is bounded by
  * the feature DOMAIN (11 discount bands -> 66 intervals), so the whole
  * fit is two tiny aggregations over exact prefix sums, embarrassingly
  * parallel at any corpus size.
  */
object DecisionQueries extends QueryPack {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** SPRT hypotheses on the purchase rate: H0 p=0.15 vs H1 p=0.20, with
    * alpha = beta = 0.05 -> boundaries +-ln(19).
    */
  val SprtP0 = 0.15
  val SprtP1 = 0.20

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cox proportional-hazards score test + one Newton step from β=0 on
    // time-to-first-purchase (event = the user purchases, censored at
    // last activity otherwise) with activity count as the covariate: at
    // β=0 the partial-likelihood score is U = Σ_events (x_i − mean_R x)
    // and the information is I = Σ_events var_R(x) over the risk set
    // R(t) = {time ≥ t}, so β̂₁ = U/I is the one-step hazard-ratio
    // estimate (does activity level predict conversion TIMING, beyond
    // KM's marginal curve). Risk-set moments are exact-integer SUFFIX
    // sums over the calendar-bounded time relation (the survival
    // triangular join); per-event-time terms are round(,9)-pinned and
    // decimal-summed.
    // UCB1 bandit-policy snapshot over event types as arms (reward =
    // event value): per arm the pull count, the exact-decimal mean
    // reward, the exploration bonus sqrt(2·ln(N)/n), and which arm the
    // policy would pull next. ln(N) is round(,9)-pinned (the one
    // non-correctly-rounded library call), everything after is IEEE
    // division/sqrt on exact-converted integers — deterministic across
    // engines. The argmax rides a broadcast 1-row max join, never an
    // unpartitioned window. One events-sized aggregation; the arm
    // relation is domain-bounded.
    "q_decision_ucb" -> ((s, d) => {
      val arms = t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pulls"), Det.dsum(col("value"), 6).as("sv"))
        .transform(graft.CacheScope.persisted(_))
      val tot = arms.agg(sum(col("n_pulls")).as("n_total"))
      val scored = arms.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_pulls"), col("n_total"),
          (col("sv") / col("n_pulls")).as("mean0"),
          (col("sv") / col("n_pulls") +
            sqrt(lit(2.0) * round(log(col("n_total").cast("double")), 9) /
              col("n_pulls").cast("double"))).as("ucb0"))
        .transform(graft.CacheScope.persisted(_))
      val best = scored.agg(max(col("ucb0")).as("ucb_max"))
      scored.crossJoin(broadcast(best))
        .select(col("event_type"), col("n_pulls"), col("n_total"),
          round(col("mean0"), 6).as("mean_reward"),
          round(col("ucb0"), 6).as("ucb"),
          (col("ucb0") === col("ucb_max")).as("chosen"))
    }),

    "q_ml_coxph" -> ((s, d) => {
      val dec = DecimalType(24, 9)
      val u = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts")).cast("date")).as("fd"),
          max(date_trunc("day", col("ts")).cast("date")).as("ld"),
          min(when(col("event_type") === "purchase",
            date_trunc("day", col("ts")).cast("date"))).as("pd"),
          count(lit(1)).as("x"))
        .select(
          datediff(coalesce(col("pd"), col("ld")), col("fd")).as("lt"),
          col("pd").isNotNull.as("churned"), col("x"))
      val byT = u.groupBy(col("lt"))
        .agg(count(lit(1)).as("a"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"),
          sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
          sum(when(col("churned"), col("x")).otherwise(0L)).as("dx"))
        .transform(graft.CacheScope.persisted(_))
      val risk = byT
        .join(broadcast(byT.select(col("lt").as("t2"), col("a").as("a2"),
          col("sx").as("sx2"), col("sxx").as("sxx2"))), col("t2") >= col("lt"))
        .groupBy(col("lt"), col("d"), col("dx"))
        .agg(sum(col("a2")).as("rn"), sum(col("sx2")).as("rsx"),
          sum(col("sxx2")).as("rsxx"))
        .filter(col("d") > 0)
      val mx = col("rsx").cast("double") / col("rn").cast("double")
      val terms = risk.select(
        round(col("dx").cast("double") - col("d").cast("double") * mx, 9)
          .cast(dec).as("ut"),
        round(col("d").cast("double") *
          (col("rsxx").cast("double") / col("rn").cast("double") - mx * mx), 9)
          .cast(dec).as("it"),
        col("d"))
      val tot = terms.agg(sum(col("ut")).cast("double").as("u"),
        sum(col("it")).cast("double").as("i"), sum(col("d")).as("n_deaths"))
      val nu = u.agg(count(lit(1)).as("n_users"))
      tot.crossJoin(broadcast(nu))
        .filter(col("i") > 0)
        .select(col("n_users"), col("n_deaths"),
          round(col("u"), 6).as("score_u"),
          round(col("i"), 6).as("info_i"),
          round(col("u") / col("i"), 6).as("beta_1step"),
          round(col("u") / sqrt(col("i")), 6).as("z_score"))
    }),

    // Median (τ=0.5) quantile regression of scaled value on hour-of-day
    // by subgradient descent — the robust-loss sibling of q_stats_linreg
    // (the conditional MEDIAN line, immune to the value column's heavy
    // tail) and the iterated-rounds relative of q_stats_logreg: each of
    // the [[QuantRegIters]] rounds is one events-sized aggregation whose
    // current weights ride a 1-row broadcast. Subgradient terms are
    // EXACT halves (±0.5 — sign of the residual, decided by an
    // identical-operand double comparison in both engines) so g0 sums in
    // DECIMAL(12,1); the x-weighted terms and the final pinball loss are
    // round(,9)-pinned decimal folds.
    "q_ml_quantile_reg" -> ((s, d) => {
      val dec = DecimalType(20, 9)
      val ev = t(s, d, "events").select(
          (hour(col("ts")).cast("double") / lit(24.0)).as("x"),
          ((col("value").cast(DecimalType(12, 2)) * 100).cast("long")
            .cast("double") / lit(50000.0)).as("y"))
        .transform(graft.CacheScope.persisted(_))
      val yhat = col("w0") + col("w1") * col("x")
      val half = when(col("y") < yhat, 0.5).otherwise(-0.5)
      var w: DataFrame = s.range(1).select(
        lit(0.0).as("w0"), lit(0.0).as("w1"))
      for (_ <- 1 to QuantRegIters) {
        val g = ev.crossJoin(broadcast(w))
          .groupBy("w0", "w1")
          .agg(sum(half.cast(DecimalType(12, 1))).cast("double").as("g0"),
            sum(round(half * col("x"), 9).cast(dec)).cast("double").as("g1"),
            count(lit(1)).as("n"))
        w = g.select(
          (col("w0") - col("g0") / col("n").cast("double")).as("w0"),
          (col("w1") - col("g1") / col("n").cast("double")).as("w1"))
      }
      val ind = when(col("y") < yhat, 1.0).otherwise(0.0)
      ev.crossJoin(broadcast(w))
        .groupBy("w0", "w1")
        .agg(count(lit(1)).as("n_rows"),
          sum(round((col("y") - yhat) * (lit(0.5) - ind), 9).cast(dec))
            .cast("double").as("pl"))
        .select(col("n_rows"),
          round(col("w0"), 6).as("w_bias"),
          round(col("w1"), 6).as("w_hour"),
          round(col("pl") / col("n_rows").cast("double"), 6).as("pinball"))
    }),

    // Wald's sequential probability ratio test, run per md5-parity
    // variant over the event stream day by day: LLR_t = x_t ln(p1/p0) +
    // (n_t - x_t) ln((1-p1)/(1-p0)) accumulates until it exits
    // [-ln 19, +ln 19]. Output: each variant's decision, decision day,
    // and final LLR. The cumulative sum is a prefix equi-join over the
    // per-(variant, day) relation — calendar-bounded, never a window.
    "q_ml_sprt" -> ((s, d) => {
      val lr1 = log(lit(SprtP1) / lit(SprtP0))
      val lr0 = log((lit(1.0) - lit(SprtP1)) / (lit(1.0) - lit(SprtP0)))
      val daily = t(s, d, "events")
        .select(
          (conv(substring(md5(col("user_id").cast("string")), 1, 6), 16, 10)
            .cast("long") % 2).as("variant"),
          date_trunc("day", col("ts")).cast("date").as("day"),
          (col("event_type") === "purchase").cast("long").as("x"))
        .groupBy("variant", "day")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("x"))
        .select(col("variant"), col("day"),
          round(col("x").cast("double") * lr1 +
            (col("n") - col("x")).cast("double") * lr0, 9)
            .cast(DecimalType(24, 9)).as("llr"))
      val b = daily.select(col("variant").as("v2"), col("day").as("d2"),
        col("llr").as("llr2"))
      val cum = daily.join(b, col("variant") === col("v2") && col("d2") <= col("day"))
        .groupBy("variant", "day")
        .agg(sum(col("llr2")).cast(DecimalType(30, 9)).as("cum"))
      val bound = math.log(19.0)
      cum.groupBy("variant")
        .agg(count(lit(1)).as("n_days"),
          min(when(col("cum").cast("double") >= bound, col("day"))).as("up_day"),
          min(when(col("cum").cast("double") <= -bound, col("day"))).as("dn_day"),
          max(struct(col("day"), col("cum"))).as("last"))
        .select(col("variant"), col("n_days"),
          round(col("last.cum").cast("double"), 6).as("llr_final"),
          when(col("up_day").isNotNull &&
              (col("dn_day").isNull || col("up_day") <= col("dn_day")), "accept_h1")
            .when(col("dn_day").isNotNull, "accept_h0")
            .otherwise("continue").as("decision"),
          least(col("up_day"), col("dn_day")).as("decision_day"))
    }),

    // Isotonic (monotone non-decreasing) calibration of the return-flag
    // rate over discount bands, by the exact minimax identity
    // fit(k) = max_{i<=k} min_{j>=k} mean(i..j) — equivalent to PAVA but
    // with NO sequential merge loop: interval means come from exact
    // integer prefix sums (66 intervals over 11 bands), and the two
    // min/max aggregations run over a few hundred rows whatever the
    // corpus size. Means compare as doubles built from exact longs with
    // identical expression shape, so the argmin/argmax are engine-exact.
    "q_ml_isotonic" -> ((s, d) => {
      val bins = t(s, d, "lineitem")
        .groupBy(expr("CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("b"))
        .agg(count(lit(1)).as("w"),
          sum((col("l_returnflag") === "R").cast("long")).as("sr"))
        .transform(graft.CacheScope.persisted(_))
      val pre = bins.as("a").join(broadcast(bins.as("c")), col("c.b") <= col("a.b"))
        .groupBy(col("a.b").as("b"))
        .agg(sum(col("c.sr")).as("pp"), sum(col("c.w")).as("qq"))
      val pre0 = pre.unionByName(
        bins.sparkSession.range(1).select(lit(-1L).as("b"),
          lit(0L).as("pp"), lit(0L).as("qq")))
      val iv = pre0.as("lo").join(broadcast(pre.as("hi")), col("lo.b") < col("hi.b"))
        .select((col("lo.b") + 1).as("i"), col("hi.b").as("j"),
          ((col("hi.pp") - col("lo.pp")).cast("double") /
            (col("hi.qq") - col("lo.qq")).cast("double")).as("avg"))
      val keys = bins.select(col("b").as("k"))
      val mn = iv.join(broadcast(keys), col("i") <= col("k") && col("j") >= col("k"))
        .groupBy("k", "i").agg(min(col("avg")).as("mn"))
      val fit = mn.groupBy("k").agg(max(col("mn")).as("fit"))
      bins.join(fit, col("b") === col("k"))
        .select(col("b").as("disc_band"), col("w").as("n"),
          round(col("sr").cast("double") / col("w").cast("double"), 6).as("p_raw"),
          round(col("fit"), 6).as("p_iso"))
    }),

    // Exact global median of extendedprice with a 95% order-statistic
    // confidence interval — three k-th-order-statistic extractions via
    // the shared [[graft.operators.RadixSelect]] (no global sort, no
    // window; each rank costs ~5 flat map-side-combining aggregations
    // over the cached cents column). The CI ranks are the standard
    // binomial bounds n/2 ∓ 1.96·√n/2 — distribution-free, exact
    // integers once floor/ceil lands, identical double algebra in the
    // oracle's rank computation.
    "q_stats_median_ci" -> ((s, d) => {
      val v = t(s, d, "lineitem")
        .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("v"))
        .transform(graft.CacheScope.persisted(_))
      // n and max(v) in ONE pass over the cache (r16): the max feeds
      // RadixSelect's level skip, so the operator's own max job folds away.
      val nmx = v.agg(count(lit(1)).as("n"), max(col("v")).as("mx")).collect()(0)
      val n = nmx.getAs[Long]("n")
      val z = 1.959964
      def clamp(r: Double) = math.max(1L, math.min(n, r.toLong))
      val kMed = (n + 1) / 2 // lower median: a real data value, never an average
      val kLo = clamp(math.floor((n - z * math.sqrt(n.toDouble)) / 2.0))
      val kHi = clamp(math.ceil((n + z * math.sqrt(n.toDouble)) / 2.0 + 1.0))
      // All three order statistics narrow through the SAME radix passes
      // (RadixSelect.ranks, r15): 3x5 counting aggregations -> 2.
      val r = graft.operators.RadixSelect.ranks(v, "v", Seq(kMed, kLo, kHi),
        graft.operators.RadixSelect.maxOf(nmx))
      val (med, lo, hi) = (r(kMed), r(kLo), r(kHi))
      s.range(1).select(lit(n).as("n"),
        round(lit(med).cast("double") / 100.0, 2).as("median_usd"),
        round(lit(lo).cast("double") / 100.0, 2).as("lo95_usd"),
        round(lit(hi).cast("double") / 100.0, 2).as("hi95_usd"))
    }),

    // 5%-each-side trimmed mean of extendedprice — the whale-immune
    // location estimate between the mean (q_stats_agg) and the median
    // (q_stats_median_ci). The trim BOUNDS are exact order statistics
    // from [[graft.operators.RadixSelect]] (ranks ⌈n/20⌉ and n+1−⌈n/20⌉,
    // pure integer arithmetic); the kept mass is then one exact filtered
    // DECIMAL aggregation. Trimming is by VALUE bound, so boundary ties
    // are all kept — identical rule in the oracle.
    "q_stats_trimmed_mean" -> ((s, d) => {
      val v = t(s, d, "lineitem")
        .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("v"))
        .transform(graft.CacheScope.persisted(_))
      // n and max(v) in one pass; max feeds the level skip (r16).
      val nmx = v.agg(count(lit(1)).as("n"), max(col("v")).as("mx")).collect()(0)
      val n = nmx.getAs[Long]("n")
      val kLo = (n + 19) / 20
      val kHi = n + 1 - kLo
      // Both trim bounds in one multi-rank narrowing (RadixSelect.ranks).
      val r = graft.operators.RadixSelect.ranks(v, "v", Seq(kLo, kHi),
        graft.operators.RadixSelect.maxOf(nmx))
      val (lo, hi) = (r(kLo), r(kHi))
      v.filter(col("v") >= lo && col("v") <= hi)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("v")).cast(DecimalType(24, 0)).as("sv"))
        .select(lit(n).as("n"), col("n_kept"),
          round(lit(lo).cast("double") / 100.0, 2).as("lo_usd"),
          round(lit(hi).cast("double") / 100.0, 2).as("hi_usd"),
          round(col("sv").cast("double") /
            (col("n_kept").cast("double") * 100.0), 4).as("trimmed_mean_usd"))
    }),

    // 10%-each-side WINSORIZED mean — the clamping sibling of
    // q_stats_trimmed_mean: extreme values are pulled IN to the exact
    // P10/P90 order statistics instead of dropped, so every row keeps a
    // vote (the estimator robust literature prefers when outliers are
    // real-but-noisy rather than junk). Bounds from RadixSelect (no
    // sort, no window); the clamped sum is one exact DECIMAL
    // aggregation over all n rows.
    "q_stats_winsor_mean" -> ((s, d) => {
      val v = t(s, d, "lineitem")
        .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("v"))
        .transform(graft.CacheScope.persisted(_))
      // n and max(v) in one pass; max feeds the level skip (r16).
      val nmx = v.agg(count(lit(1)).as("n"), max(col("v")).as("mx")).collect()(0)
      val n = nmx.getAs[Long]("n")
      val kLo = (n + 9) / 10
      val kHi = n + 1 - kLo
      // Both winsor bounds in one multi-rank narrowing (RadixSelect.ranks).
      val r = graft.operators.RadixSelect.ranks(v, "v", Seq(kLo, kHi),
        graft.operators.RadixSelect.maxOf(nmx))
      val (lo, hi) = (r(kLo), r(kHi))
      v.select(greatest(lit(lo), least(lit(hi), col("v"))).as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("w")).cast(DecimalType(24, 0)).as("sw"))
        .select(col("n"),
          round(lit(lo).cast("double") / 100.0, 2).as("lo_usd"),
          round(lit(hi).cast("double") / 100.0, 2).as("hi_usd"),
          round(col("sw").cast("double") /
            (col("n").cast("double") * 100.0), 4).as("winsor_mean_usd"))
    }),

    // Depth-2 decision tree over (totalprice, orderdate) for the
    // 1-URGENT label — one level past q_ml_stump, built the way a
    // histogram GBDT grows trees at scale: the ROOT split is searched on
    // the 64-bucket price histogram; each branch then searches its OWN
    // 64-bucket date histogram, and because the per-(branch, bucket)
    // class counts are one aggregation over the SAME scan, the second
    // level costs one more bounded self-join — never a re-scan per node.
    // Everything after the two histogram aggregations runs on ≤128-row
    // relations; argmins are min(struct) under a total order.
    "q_ml_tree_depth2" -> ((s, d) => {
      val ord = t(s, d, "orders").select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("v1"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT)")
          .as("v2"),
        (col("o_orderpriority") === "1-URGENT").as("pos"))
      val span = ord.agg(min(col("v1")).as("n1"), max(col("v1")).as("x1"),
        min(col("v2")).as("n2"), max(col("v2")).as("x2"))
      val bk = ord.crossJoin(broadcast(span))
        .select(expr(s"CAST((v1 - n1) * $TreeBkts AS BIGINT) div (x1 - n1 + 1)").as("b1"),
          expr(s"CAST((v2 - n2) * $TreeBkts AS BIGINT) div (x2 - n2 + 1)").as("b2"),
          col("pos"))
        .transform(graft.CacheScope.persisted(_))
      def gini(pl: Column, ql: Column, pr: Column, qr: Column): Column = {
        val nl = (pl + ql).cast("double")
        val nr = (pr + qr).cast("double")
        val nn = nl + nr
        nl / nn * (lit(1.0) - (pl.cast("double") / nl) * (pl.cast("double") / nl) -
          (ql.cast("double") / nl) * (ql.cast("double") / nl)) +
          nr / nn * (lit(1.0) - (pr.cast("double") / nr) * (pr.cast("double") / nr) -
            (qr.cast("double") / nr) * (qr.cast("double") / nr))
      }
      // root search on the price histogram
      val c1 = bk.groupBy("b1")
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("q"))
      val cum1 = c1.as("b").join(broadcast(c1.as("o")), col("o.b1") <= col("b.b1"))
        .groupBy(col("b.b1").as("bkt"))
        .agg(sum(col("o.p")).as("pl"), sum(col("o.q")).as("ql"))
        .crossJoin(broadcast(c1.agg(sum(col("p")).as("tp"), sum(col("q")).as("tq"))))
        .withColumn("pr", col("tp") - col("pl"))
        .withColumn("qr", col("tq") - col("ql"))
        .filter(col("pl") + col("ql") > 0 && col("pr") + col("qr") > 0)
        .withColumn("gini", round(gini(col("pl"), col("ql"), col("pr"), col("qr")), 6))
      val best1 = cum1
        .agg(min(struct(col("gini"), col("bkt"), col("pl"), col("ql"),
          col("pr"), col("qr"))).as("m"))
        .select(col("m.bkt").as("rbkt"), col("m.gini").as("rgini"),
          ((greatest(col("m.pl"), col("m.ql")) + greatest(col("m.pr"), col("m.qr")))
            .cast("double") /
            (col("m.pl") + col("m.ql") + col("m.pr") + col("m.qr")).cast("double"))
            .as("racc"))
      // per-branch search on the date histogram
      val c2 = bk.crossJoin(broadcast(best1))
        .groupBy((col("b1") <= col("rbkt")).as("br"), col("b2"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("q"))
        .transform(graft.CacheScope.persisted(_))
      val cum2 = c2.as("b").join(broadcast(c2.as("o")),
          col("o.br") === col("b.br") && col("o.b2") <= col("b.b2"))
        .groupBy(col("b.br").as("br"), col("b.b2").as("bkt"))
        .agg(sum(col("o.p")).as("pl"), sum(col("o.q")).as("ql"))
        .join(broadcast(c2.groupBy(col("br").as("tbr"))
          .agg(sum(col("p")).as("tp"), sum(col("q")).as("tq"))),
          col("br") === col("tbr"))
        .withColumn("pr", col("tp") - col("pl"))
        .withColumn("qr", col("tq") - col("ql"))
        .filter(col("pl") + col("ql") > 0 && col("pr") + col("qr") > 0)
        .withColumn("gini", round(gini(col("pl"), col("ql"), col("pr"), col("qr")), 6))
      val best2 = cum2.groupBy("br")
        .agg(min(struct(col("gini"), col("bkt"), col("pl"), col("ql"),
          col("pr"), col("qr"))).as("m"),
          max(col("tp") + col("tq")).as("nbr"))
        .select(col("br"), col("m.bkt").as("bkt"), col("m.gini").as("gini"),
          col("nbr"),
          (greatest(col("m.pl"), col("m.ql")) + greatest(col("m.pr"), col("m.qr")))
            .as("maj"))
        .transform(graft.CacheScope.persisted(_))
      val rootRow = best1.select(lit("root").as("node"),
        lit("totalprice").as("feature"), col("rbkt").as("split_bucket"),
        col("rgini").as("gini"), round(col("racc"), 6).as("acc"))
      val childRows = best2.select(
        when(col("br"), "left").otherwise("right").as("node"),
        lit("orderdate").as("feature"), col("bkt").as("split_bucket"),
        col("gini"),
        round(col("maj").cast("double") / col("nbr").cast("double"), 6).as("acc"))
      val treeRow = best2
        .agg(sum(col("maj")).as("m"), sum(col("nbr")).as("nn"),
          sum(col("gini") * col("nbr").cast("double")).as("gw"))
        .select(lit("tree").as("node"), lit("-").as("feature"),
          lit(-1L).as("split_bucket"),
          round(col("gw") / col("nn").cast("double"), 6).as("gini"),
          round(col("m").cast("double") / col("nn").cast("double"), 6).as("acc"))
      rootRow.unionByName(childRows).unionByName(treeRow)
    }))

  /** Histogram width for the depth-2 tree splits. */
  val TreeBkts = 64

  /** The weighted-Gini SQL text over (pl, ql, pr, qr) column names —
    * identical expression shape to the Spark builder's `gini`.
    */
  private def giniSql(pl: String, ql: String, pr: String, qr: String): String =
    s"""CAST($pl + $ql AS DOUBLE) / CAST($pl + $ql + $pr + $qr AS DOUBLE) *
       |  (1.0 - (CAST($pl AS DOUBLE) / CAST($pl + $ql AS DOUBLE)) *
       |         (CAST($pl AS DOUBLE) / CAST($pl + $ql AS DOUBLE)) -
       |         (CAST($ql AS DOUBLE) / CAST($pl + $ql AS DOUBLE)) *
       |         (CAST($ql AS DOUBLE) / CAST($pl + $ql AS DOUBLE))) +
       |CAST($pr + $qr AS DOUBLE) / CAST($pl + $ql + $pr + $qr AS DOUBLE) *
       |  (1.0 - (CAST($pr AS DOUBLE) / CAST($pr + $qr AS DOUBLE)) *
       |         (CAST($pr AS DOUBLE) / CAST($pr + $qr AS DOUBLE)) -
       |         (CAST($qr AS DOUBLE) / CAST($pr + $qr AS DOUBLE)) *
       |         (CAST($qr AS DOUBLE) / CAST($pr + $qr AS DOUBLE)))""".stripMargin

  /** Subgradient rounds for q_ml_quantile_reg (oracle unrolls the same). */
  val QuantRegIters = 5

  /** One unrolled quantile-regression subgradient round (reads r{i-1}). */
  private def quantRegCte(i: Int): String =
    s"""g$i AS (
       |  SELECT w0, w1,
       |         CAST(sum(CAST(CASE WHEN y < w0 + w1 * x THEN 0.5 ELSE -0.5 END
       |                       AS DECIMAL(12,1))) AS DOUBLE) AS g0,
       |         CAST(sum(CAST(round((CASE WHEN y < w0 + w1 * x THEN 0.5 ELSE -0.5 END) * x, 9)
       |                       AS DECIMAL(20,9))) AS DOUBLE) AS g1,
       |         count(*) AS n
       |  FROM ev CROSS JOIN r${i - 1} GROUP BY w0, w1
       |), r$i AS (
       |  SELECT w0 - g0 / n AS w0, w1 - g1 / n AS w1 FROM g$i
       |)""".stripMargin

  override val oracles: Map[String, String] = Map(

    "q_decision_ucb" ->
      s"""WITH arms AS (
         |  SELECT event_type, count(*) AS n_pulls,
         |         ${Det.dsumSql("value", 6)} AS sv
         |  FROM events GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n_pulls) AS BIGINT) AS n_total FROM arms
         |), scored AS (
         |  SELECT event_type, n_pulls, n_total,
         |         sv / n_pulls AS mean0,
         |         sv / n_pulls +
         |           sqrt(2.0 * round(ln(CAST(n_total AS DOUBLE)), 9) /
         |                CAST(n_pulls AS DOUBLE)) AS ucb0
         |  FROM arms CROSS JOIN tot
         |), best AS (SELECT max(ucb0) AS ucb_max FROM scored)
         |SELECT event_type, n_pulls, n_total,
         |       round(mean0, 6) AS mean_reward,
         |       round(ucb0, 6) AS ucb,
         |       ucb0 = ucb_max AS chosen
         |FROM scored CROSS JOIN best""".stripMargin,

    "q_ml_coxph" ->
      """WITH u AS (
        |  SELECT datediff('day', min(CAST(date_trunc('day', ts) AS DATE)),
        |                  coalesce(min(CASE WHEN event_type = 'purchase'
        |                               THEN CAST(date_trunc('day', ts) AS DATE) END),
        |                           max(CAST(date_trunc('day', ts) AS DATE)))) AS lt,
        |         min(CASE WHEN event_type = 'purchase'
        |             THEN CAST(date_trunc('day', ts) AS DATE) END) IS NOT NULL AS churned,
        |         count(*) AS x
        |  FROM events GROUP BY user_id
        |), byt AS (
        |  SELECT lt, count(*) AS a, sum(x) AS sx, sum(x * x) AS sxx,
        |         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN churned THEN x ELSE 0 END) AS BIGINT) AS dx
        |  FROM u GROUP BY lt
        |), risk AS (
        |  SELECT b.lt, b.d, b.dx,
        |         sum(o.a) AS rn, sum(o.sx) AS rsx, sum(o.sxx) AS rsxx
        |  FROM byt b JOIN byt o ON o.lt >= b.lt
        |  GROUP BY 1, 2, 3 HAVING b.d > 0
        |), terms AS (
        |  SELECT CAST(round(CAST(dx AS DOUBLE) - CAST(d AS DOUBLE) *
        |                (CAST(rsx AS DOUBLE) / CAST(rn AS DOUBLE)), 9)
        |              AS DECIMAL(24,9)) AS ut,
        |         CAST(round(CAST(d AS DOUBLE) *
        |                (CAST(rsxx AS DOUBLE) / CAST(rn AS DOUBLE) -
        |                 (CAST(rsx AS DOUBLE) / CAST(rn AS DOUBLE)) *
        |                 (CAST(rsx AS DOUBLE) / CAST(rn AS DOUBLE))), 9)
        |              AS DECIMAL(24,9)) AS it,
        |         d
        |  FROM risk
        |), tot AS (
        |  SELECT CAST(sum(ut) AS DOUBLE) AS u, CAST(sum(it) AS DOUBLE) AS i,
        |         CAST(sum(d) AS BIGINT) AS n_deaths
        |  FROM terms
        |), nu AS (SELECT count(*) AS n_users FROM u)
        |SELECT nu.n_users, tot.n_deaths,
        |       round(tot.u, 6) AS score_u,
        |       round(tot.i, 6) AS info_i,
        |       round(tot.u / tot.i, 6) AS beta_1step,
        |       round(tot.u / sqrt(tot.i), 6) AS z_score
        |FROM tot CROSS JOIN nu WHERE tot.i > 0""".stripMargin,

    "q_ml_quantile_reg" ->
      s"""WITH ev AS MATERIALIZED (
         |  SELECT CAST(hour(ts) AS DOUBLE) / 24.0 AS x,
         |         CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS DOUBLE) / 50000.0 AS y
         |  FROM events
         |), r0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1),
         |${(1 to QuantRegIters).map(quantRegCte).mkString(",\n")}
         |SELECT count(*) AS n_rows,
         |       round(any_value(w0), 6) AS w_bias,
         |       round(any_value(w1), 6) AS w_hour,
         |       round(CAST(sum(CAST(round((y - (w0 + w1 * x)) *
         |                    (0.5 - CASE WHEN y < w0 + w1 * x THEN 1.0 ELSE 0.0 END), 9)
         |                  AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6) AS pinball
         |FROM ev CROSS JOIN r$QuantRegIters""".stripMargin,

    "q_ml_sprt" ->
      s"""WITH daily AS (
         |  SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT % 2
         |           AS variant,
         |         CAST(date_trunc('day', ts) AS DATE) AS day,
         |         CAST(round(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |                         AS DOUBLE) * ln($SprtP1 / $SprtP0) +
         |                    CAST(count(*) - sum(CASE WHEN event_type = 'purchase'
         |                                             THEN 1 ELSE 0 END)
         |                         AS DOUBLE) * ln((1.0 - $SprtP1) / (1.0 - $SprtP0)), 9)
         |              AS DECIMAL(24,9)) AS llr
         |  FROM events GROUP BY 1, 2
         |), cum AS (
         |  SELECT a.variant, a.day,
         |         CAST(sum(b.llr) AS DECIMAL(30,9)) AS cum
         |  FROM daily a JOIN daily b
         |    ON b.variant = a.variant AND b.day <= a.day
         |  GROUP BY 1, 2
         |), agg AS (
         |  SELECT variant, count(*) AS n_days,
         |         min(CASE WHEN CAST(cum AS DOUBLE) >= ln(19.0) THEN day END) AS up_day,
         |         min(CASE WHEN CAST(cum AS DOUBLE) <= -ln(19.0) THEN day END) AS dn_day,
         |         max_by(cum, day) AS last_cum
         |  FROM cum GROUP BY 1
         |)
         |SELECT variant, n_days,
         |       round(CAST(last_cum AS DOUBLE), 6) AS llr_final,
         |       CASE WHEN up_day IS NOT NULL AND (dn_day IS NULL OR up_day <= dn_day)
         |              THEN 'accept_h1'
         |            WHEN dn_day IS NOT NULL THEN 'accept_h0'
         |            ELSE 'continue' END AS decision,
         |       least(up_day, dn_day) AS decision_day
         |FROM agg""".stripMargin,

    "q_ml_isotonic" ->
      """WITH bins AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS b,
        |         count(*) AS w,
        |         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS sr
        |  FROM lineitem GROUP BY 1
        |), pre AS (
        |  SELECT a.b, sum(c.sr) AS pp, sum(c.w) AS qq
        |  FROM bins a JOIN bins c ON c.b <= a.b GROUP BY 1
        |), pre0 AS (
        |  SELECT * FROM pre
        |  UNION ALL SELECT -1, 0, 0
        |), iv AS (
        |  SELECT lo.b + 1 AS i, hi.b AS j,
        |         CAST(hi.pp - lo.pp AS DOUBLE) / CAST(hi.qq - lo.qq AS DOUBLE) AS avg
        |  FROM pre0 lo JOIN pre hi ON lo.b < hi.b
        |), mn AS (
        |  SELECT k.b AS k, iv.i, min(iv.avg) AS mn
        |  FROM iv JOIN (SELECT b FROM bins) k
        |    ON iv.i <= k.b AND iv.j >= k.b
        |  GROUP BY 1, 2
        |), fit AS (
        |  SELECT k, max(mn) AS fit FROM mn GROUP BY 1
        |)
        |SELECT bins.b AS disc_band, bins.w AS n,
        |       round(CAST(bins.sr AS DOUBLE) / CAST(bins.w AS DOUBLE), 6) AS p_raw,
        |       round(fit.fit, 6) AS p_iso
        |FROM bins JOIN fit ON fit.k = bins.b""".stripMargin,

    "q_stats_median_ci" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem
        |), nn AS (SELECT count(*) AS n FROM v),
        |k AS (
        |  SELECT n, (n + 1) // 2 AS kmed,
        |         greatest(1, least(n, CAST(floor((n - 1.959964 *
        |           sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))) AS klo,
        |         greatest(1, least(n, CAST(ceil((n + 1.959964 *
        |           sqrt(CAST(n AS DOUBLE))) / 2.0 + 1.0) AS BIGINT))) AS khi
        |  FROM nn
        |), r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
        |SELECT k.n,
        |       round(CAST((SELECT min(v) FROM r WHERE rn = k.kmed) AS DOUBLE) / 100.0, 2)
        |         AS median_usd,
        |       round(CAST((SELECT min(v) FROM r WHERE rn = k.klo) AS DOUBLE) / 100.0, 2)
        |         AS lo95_usd,
        |       round(CAST((SELECT min(v) FROM r WHERE rn = k.khi) AS DOUBLE) / 100.0, 2)
        |         AS hi95_usd
        |FROM k""".stripMargin,

    "q_stats_trimmed_mean" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem
        |), nn AS (SELECT count(*) AS n FROM v),
        |k AS (
        |  SELECT n, (n + 19) // 20 AS klo, n + 1 - (n + 19) // 20 AS khi FROM nn
        |), r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |b AS (
        |  SELECT k.n,
        |         (SELECT min(v) FROM r WHERE rn = k.klo) AS lo,
        |         (SELECT min(v) FROM r WHERE rn = k.khi) AS hi
        |  FROM k
        |)
        |SELECT b.n, count(*) AS n_kept,
        |       round(CAST(b.lo AS DOUBLE) / 100.0, 2) AS lo_usd,
        |       round(CAST(b.hi AS DOUBLE) / 100.0, 2) AS hi_usd,
        |       round(CAST(CAST(sum(v.v) AS DECIMAL(24,0)) AS DOUBLE) /
        |             (CAST(count(*) AS DOUBLE) * 100.0), 4) AS trimmed_mean_usd
        |FROM v, b WHERE v.v >= b.lo AND v.v <= b.hi
        |GROUP BY b.n, b.lo, b.hi""".stripMargin,

    "q_stats_winsor_mean" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem
        |), nn AS (SELECT count(*) AS n FROM v),
        |k AS (
        |  SELECT n, (n + 9) // 10 AS klo, n + 1 - (n + 9) // 10 AS khi FROM nn
        |), r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |b AS (
        |  SELECT k.n,
        |         (SELECT min(v) FROM r WHERE rn = k.klo) AS lo,
        |         (SELECT min(v) FROM r WHERE rn = k.khi) AS hi
        |  FROM k
        |)
        |SELECT count(*) AS n,
        |       round(CAST(b.lo AS DOUBLE) / 100.0, 2) AS lo_usd,
        |       round(CAST(b.hi AS DOUBLE) / 100.0, 2) AS hi_usd,
        |       round(CAST(CAST(sum(greatest(b.lo, least(b.hi, v.v)))
        |                       AS DECIMAL(24,0)) AS DOUBLE) /
        |             (CAST(count(*) AS DOUBLE) * 100.0), 4) AS winsor_mean_usd
        |FROM v, b
        |GROUP BY b.lo, b.hi""".stripMargin,

    "q_ml_tree_depth2" ->
      s"""WITH ord AS (
         |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v1,
         |         CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
         |              AS BIGINT) AS v2,
         |         o_orderpriority = '1-URGENT' AS pos
         |  FROM orders
         |), span AS (
         |  SELECT min(v1) AS n1, max(v1) AS x1, min(v2) AS n2, max(v2) AS x2 FROM ord
         |), bk AS (
         |  SELECT CAST((v1 - n1) * $TreeBkts AS BIGINT) // (x1 - n1 + 1) AS b1,
         |         CAST((v2 - n2) * $TreeBkts AS BIGINT) // (x2 - n2 + 1) AS b2, pos
         |  FROM ord, span
         |), c1 AS (
         |  SELECT b1, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
         |         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS q
         |  FROM bk GROUP BY 1
         |), cum1 AS (
         |  SELECT b.b1 AS bkt, sum(o.p) AS pl, sum(o.q) AS ql
         |  FROM c1 b JOIN c1 o ON o.b1 <= b.b1 GROUP BY 1
         |), tot1 AS (SELECT sum(p) AS tp, sum(q) AS tq FROM c1),
         |g1 AS (
         |  SELECT bkt, pl, ql, tp - pl AS pr, tq - ql AS qr,
         |         round(${giniSql("pl", "ql", "(tp - pl)", "(tq - ql)")}, 6) AS gini
         |  FROM cum1, tot1
         |  WHERE pl + ql > 0 AND (tp - pl) + (tq - ql) > 0
         |), b1best AS (
         |  SELECT * FROM g1 ORDER BY gini, bkt LIMIT 1
         |), c2 AS (
         |  SELECT bk.b1 <= (SELECT bkt FROM b1best) AS br, b2,
         |         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
         |         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS q
         |  FROM bk GROUP BY 1, 2
         |), cum2 AS (
         |  SELECT b.br, b.b2 AS bkt, sum(o.p) AS pl, sum(o.q) AS ql
         |  FROM c2 b JOIN c2 o ON o.br = b.br AND o.b2 <= b.b2 GROUP BY 1, 2
         |), tot2 AS (SELECT br, sum(p) AS tp, sum(q) AS tq FROM c2 GROUP BY 1),
         |g2 AS (
         |  SELECT cum2.br, bkt, pl, ql, tp - pl AS pr, tq - ql AS qr, tp, tq,
         |         round(${giniSql("pl", "ql", "(tp - pl)", "(tq - ql)")}, 6) AS gini
         |  FROM cum2 JOIN tot2 ON tot2.br = cum2.br
         |  WHERE pl + ql > 0 AND (tp - pl) + (tq - ql) > 0
         |), b2best AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY br ORDER BY gini, bkt) AS rn
         |    FROM g2) WHERE rn = 1
         |)
         |SELECT 'root' AS node, 'totalprice' AS feature,
         |       bkt AS split_bucket, gini,
         |       round(CAST(greatest(pl, ql) + greatest(pr, qr) AS DOUBLE) /
         |             CAST(pl + ql + pr + qr AS DOUBLE), 6) AS acc
         |FROM b1best
         |UNION ALL
         |SELECT CASE WHEN br THEN 'left' ELSE 'right' END, 'orderdate', bkt, gini,
         |       round(CAST(greatest(pl, ql) + greatest(pr, qr) AS DOUBLE) /
         |             CAST(tp + tq AS DOUBLE), 6)
         |FROM b2best
         |UNION ALL
         |SELECT 'tree', '-', CAST(-1 AS BIGINT),
         |       round(sum(gini * CAST(tp + tq AS DOUBLE)) /
         |             CAST(sum(tp + tq) AS DOUBLE), 6),
         |       round(CAST(sum(greatest(pl, ql) + greatest(pr, qr)) AS DOUBLE) /
         |             CAST(sum(tp + tq) AS DOUBLE), 6)
         |FROM b2best""".stripMargin)
}
