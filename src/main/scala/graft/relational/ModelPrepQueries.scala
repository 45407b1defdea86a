package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{CacheScope, QueryPack, Tables}

/** Model-preparation operators: the steps a training pipeline runs BETWEEN
  * raw data and a fitted model — k-fold cross-validation, conformal
  * prediction intervals, mutual-information feature ranking, rank-based
  * group comparison (Kruskal–Wallis), and Fellegi–Sunter record-linkage
  * scoring (the probabilistic entity-resolution step that decides whether
  * two source systems describe the same entity before their rows are
  * merged into one training example).
  *
  * Scale discipline (same as [[MiningQueries]]): exact integer cents /
  * counts through DECIMAL aggregation (order-independent), scalar algebra
  * on the resulting aggregates in IEEE doubles with identical expression
  * shape on both engines, round-pinned before anything downstream consumes
  * a coefficient. No query materializes a per-row rank or sorts a
  * whole relation: the conformal quantile comes from an iterative radix
  * selection whose per-level relations are bounded by VALUE RANGE (≤4096
  * buckets), not row count.
  */
object ModelPrepQueries extends QueryPack {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  private def cents(c: Column): Column =
    (c.cast(DecimalType(12, 2)) * 100).cast("long")

  private def dd(c: Column): Column = c.cast("double")

  /** CV fold count (q_ml_cvfolds). */
  val CvFolds = 5

  /** Learning-curve folds and the max-fold-index of each curve point
    * (training set = folds 0..m; the last fold is the fixed holdout).
    */
  val LcFolds = 8
  val LcSizes = Seq(0, 1, 3, 6)

  /** Conformal miscoverage level: intervals target 1 − Alpha = 90%. */
  val ConformalAlphaPct = 10

  /** The shared (x = quantity cents, y = extendedprice cents, fold) design
    * relation for the CV / conformal queries. Folds hash on l_orderkey —
    * a stable, engine-portable split key (pure modulus, no seeded RNG).
    */
  private def design(s: SparkSession, d: String, folds: Int): DataFrame =
    t(s, d, "lineitem").select(
      (col("l_orderkey") % folds).as("fold"),
      cents(col("l_quantity")).as("x"),
      cents(col("l_extendedprice")).as("y"))

  /** Exact per-fold moment relation: everything any least-squares algebra
    * downstream needs, one scan, order-independent DECIMAL sums.
    */
  private def foldMoments(li: DataFrame): DataFrame = {
    // operands widen to DECIMAL BEFORE the product: at sf0.1 the raw
    // int64 sum of y*y already brushes 2^63 (and overflows past it) --
    // decimal products make every moment sum exact at any SF
    def dx(c: Column) = c.cast(DecimalType(14, 0))
    li.groupBy("fold").agg(
      count(lit(1)).cast(DecimalType(12, 0)).as("n"),
      sum(col("x")).cast(DecimalType(18, 0)).as("sx"),
      sum(col("y")).cast(DecimalType(20, 0)).as("sy"),
      sum(dx(col("x")) * dx(col("x"))).cast(DecimalType(24, 0)).as("sxx"),
      sum(dx(col("x")) * dx(col("y"))).cast(DecimalType(28, 0)).as("sxy"),
      sum(dx(col("y")) * dx(col("y"))).cast(DecimalType(30, 0)).as("syy"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // k-fold cross-validation of the price~quantity regression in ONE
    // data pass — no per-fold re-scan, no model-fit loop. The trick is
    // moment subtraction: the per-fold exact moment relation (5 rows)
    // plus its own total gives every fold's TRAINING moments as
    // (total − fold), and the held-out SSE needs no second pass either,
    // because Σ(y−a−bx)² expands into the SAME six held-out moments:
    // syy − 2a·sy − 2b·sxy + 2ab·sx + a²n + b²sxx. At 100 TB this is
    // exactly one scan + algebra on a 5-row relation; a naive CV loop
    // would be k scans and k fits. β/α are round(,9)-pinned before the
    // SSE expansion so both engines expand with identical coefficients.
    "q_ml_cvfolds" -> ((s, d) => {
      val pf = foldMoments(design(s, d, CvFolds))
      val tot = pf.agg(
        sum(col("n")).cast(DecimalType(14, 0)).as("tn"),
        sum(col("sx")).cast(DecimalType(20, 0)).as("tsx"),
        sum(col("sy")).cast(DecimalType(22, 0)).as("tsy"),
        sum(col("sxx")).cast(DecimalType(26, 0)).as("tsxx"),
        sum(col("sxy")).cast(DecimalType(30, 0)).as("tsxy"))
      val j = pf.crossJoin(broadcast(tot))
      def tr(total: String, f: String) = dd(col(total)) - dd(col(f))
      val (rn, rsx, rsy, rsxx, rsxy) =
        (tr("tn", "n"), tr("tsx", "sx"), tr("tsy", "sy"),
          tr("tsxx", "sxx"), tr("tsxy", "sxy"))
      val b = round((rn * rsxy - rsx * rsy) / (rn * rsxx - rsx * rsx), 9)
      val a = round((rsy - b * rsx) / rn, 9)
      val sse = dd(col("syy")) - lit(2.0) * a * dd(col("sy")) -
        lit(2.0) * b * dd(col("sxy")) + lit(2.0) * a * b * dd(col("sx")) +
        a * a * dd(col("n")) + b * b * dd(col("sxx"))
      j.select(col("fold"),
          col("n").cast("long").as("n_test"),
          b.as("beta"),
          round(a / 100.0, 6).as("intercept_usd"),
          round(sqrt(greatest(sse, lit(0.0)) / dd(col("n"))) / 100.0, 4)
            .as("rmse_usd"))
    }),

    // Split-conformal 90% prediction interval for the same regression:
    // fit on fold 0, calibrate on fold 1 (q̂ = the ⌈0.9(n+1)⌉-th smallest
    // absolute residual), report empirical coverage on fold 2 — the
    // distribution-free interval a serving layer attaches to point
    // predictions. Residuals are EXACT int64 (y·10⁹ − a₉ − b₉·x with the
    // coefficients pinned to integer 1e-9-cent scale), so the order
    // statistic is over integers and can never tie-break differently
    // across engines. The quantile itself uses radix selection — five
    // rounds of (filter, group by value div 2^s, bounded prefix-sum
    // join), each level's bucket relation capped at 4096 rows BY VALUE
    // RANGE regardless of corpus size. No global sort, no window, no
    // per-row rank ever materializes: this is how a k-th order statistic
    // survives 100 TB. (The bounded TakeOrdered(1) per level picks the
    // threshold bucket from ≤4096 candidates.)
    // Learning curve: holdout R² of the price~quantity OLS at growing
    // training fractions (1/8, 2/8, 4/8, 7/8 of the orderkey-hash
    // folds) — the "would more data help" diagnostic that decides
    // between collecting data and changing the model. Per-fold exact
    // moments are aggregated ONCE; each curve point is a bounded
    // re-aggregation of the ≤8-row moment relation plus the
    // closed-form fit and the expanded-SSE holdout score — the whole
    // curve costs one corpus scan.
    "q_ml_learning_curve" -> ((s, d) => {
      val pf = foldMoments(design(s, d, LcFolds))
        .transform(CacheScope.persisted(_))
      val hold = pf.filter(col("fold") === LcFolds - 1)
        .select(col("n").as("hn"), col("sx").as("hsx"), col("sy").as("hsy"),
          col("sxx").as("hsxx"), col("sxy").as("hsxy"), col("syy").as("hsyy"))
      val curves = LcSizes.map { m =>
        val tr = pf.filter(col("fold") <= m).agg(
          sum(col("n")).cast(DecimalType(14, 0)).as("tn"),
          sum(col("sx")).cast(DecimalType(20, 0)).as("tsx"),
          sum(col("sy")).cast(DecimalType(22, 0)).as("tsy"),
          sum(col("sxx")).cast(DecimalType(26, 0)).as("tsxx"),
          sum(col("sxy")).cast(DecimalType(30, 0)).as("tsxy"))
        val j = tr.crossJoin(broadcast(hold))
        val b = round((dd(col("tn")) * dd(col("tsxy")) -
          dd(col("tsx")) * dd(col("tsy"))) /
          (dd(col("tn")) * dd(col("tsxx")) - dd(col("tsx")) * dd(col("tsx"))), 9)
        val a = round((dd(col("tsy")) - b * dd(col("tsx"))) / dd(col("tn")), 9)
        val sse = dd(col("hsyy")) - lit(2.0) * a * dd(col("hsy")) -
          lit(2.0) * b * dd(col("hsxy")) + lit(2.0) * a * b * dd(col("hsx")) +
          a * a * dd(col("hn")) + b * b * dd(col("hsxx"))
        val sst = dd(col("hsyy")) - dd(col("hsy")) * dd(col("hsy")) / dd(col("hn"))
        j.select(lit(m + 1).as("n_folds_train"),
          col("tn").cast("long").as("n_train"),
          b.as("beta"),
          round(lit(1.0) - sse / sst, 6).as("r2_holdout"))
      }
      curves.reduce(_.unionByName(_))
    }),

    // One EM round of a 1-D two-component Gaussian mixture on each
    // type's daily totals — the soft-assignment sibling of the hard
    // Lloyd step sim_kmeans audits: E-step responsibilities from
    // deterministic integer-seeded parameters (component means at the
    // integer-div midpoints mean±(extreme−mean)/2, shared variance from
    // exact moments), M-step reweighted means from round(,6)-pinned
    // DECIMAL responsibility sums. The responsibility logistic
    // 1/(1+exp(Δ/(2σ²))) evaluates on exact-integer Δ = (x−μ₂)²−(x−μ₁)²
    // (the q_stats_logreg exp-parity precedent). One events-sized agg +
    // one broadcast join + one bounded agg per type.
    "q_ml_gmm_em" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(cents(col("value"))).as("c"))
        .withColumn("v", expr("c div 10000"))
        .transform(CacheScope.persisted(_))
      val st = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .withColumn("m", expr("s1 div n"))
        .withColumn("mu1", expr("(mn + m) div 2"))
        .withColumn("mu2", expr("(mx + m) div 2"))
        .filter(col("n") >= 8 && col("mu1") < col("mu2"))
      val varG = (col("n").cast("double") * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double")) /
        (col("n").cast("double") * col("n").cast("double"))
      val delta = ((col("v") - col("mu2")) * (col("v") - col("mu2")) -
        (col("v") - col("mu1")) * (col("v") - col("mu1"))).cast("double")
      val resp = lit(1.0) / (lit(1.0) + exp(delta / (lit(2.0) * varG)))
      val e = daily.join(broadcast(st), "event_type")
        .filter(varG > 0)
        .select(col("event_type"), col("n"), col("s1"), col("v"),
          round(resp, 6).cast(DecimalType(10, 6)).as("r"))
      e.groupBy("event_type")
        .agg(first(col("n")).as("n"), first(col("s1")).as("s1"),
          sum(col("r")).as("sr"),
          sum(col("r") * col("v").cast(DecimalType(20, 0))).as("srx"))
        .filter(col("sr") > 0 && col("sr") < col("n"))
        .select(col("event_type"), col("n").cast("long").as("n_days"),
          round(col("sr").cast("double") / col("n").cast("double"), 6)
            .as("weight2"),
          round((col("s1").cast("double") - col("srx").cast("double")) /
            (col("n").cast("double") - col("sr").cast("double")), 6)
            .as("mu1_new"),
          round(col("srx").cast("double") / col("sr").cast("double"), 6)
            .as("mu2_new"))
    }),

    "q_ml_conformal" -> ((s, d) => {
      val li = design(s, d, 3)
      val m0 = foldMoments(li.filter(col("fold") === 0)).drop("fold")
      val bRaw = (dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
        (dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx")))
      val coef0 = m0.select(
        col("n").cast("long").as("n_train"),
        round(bRaw * 1e9, 0).cast("long").as("b9"))
      val coef = coef0.crossJoin(broadcast(m0.select(
          dd(col("sy")).as("dsy"), dd(col("sx")).as("dsx"), dd(col("n")).as("dn"))))
        .select(col("n_train"), col("b9"),
          round(((col("dsy") - (dd(col("b9")) / 1e9) * col("dsx")) / col("dn")) * 1e9, 0)
            .cast("long").as("a9"))
      val resid = li.filter(col("fold") === 1)
        .crossJoin(broadcast(coef))
        .select(abs(col("y") * lit(1000000000L) - col("a9") -
          col("b9") * col("x")).as("r"))
        .transform(CacheScope.persisted(_))
      // k-th order statistic via the shared radix-selection operator
      // (graft.operators.RadixSelect — flat per-level jobs, bounded
      // driver state; see its scaladoc for the 2^levels plan-blowup this
      // replaces).
      // n and max(r) in one pass; max feeds RadixSelect's level skip (r16).
      val nmx = resid.agg(count(lit(1)).as("n"), max(col("r")).as("mx"))
        .collect()(0)
      val nCal = nmx.getAs[Long]("n")
      val kk = math.min((9L * (nCal + 1) + 9) / 10, nCal)
      val qhat9 = graft.operators.RadixSelect.kth(resid, "r", kk,
        graft.operators.RadixSelect.maxOf(nmx))
      li.filter(col("fold") === 2)
        .crossJoin(broadcast(coef))
        .groupBy("n_train", "b9")
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("y") * lit(1000000000L) - col("a9") -
            col("b9") * col("x")) <= lit(qhat9), 1L).otherwise(0L)).as("cov"))
        .select(col("n_train"), lit(nCal).as("n_cal"), col("n_test"),
          round(dd(col("b9")) / 1e9, 9).as("beta"),
          round(lit(qhat9).cast("double") / 1e11, 4).as("qhat_usd"),
          round(dd(col("cov")) / dd(col("n_test")), 6).as("coverage"))
    }),

    // Kruskal–Wallis H across event types on the daily series — the
    // rank-based complement of q_stats_anova (one whale day cannot drag
    // the verdict). Pooled average ranks come from the per-distinct-value
    // relation + strictly-less prefix bases (the q_stats_mannwhitney
    // doubled-rank discipline: 2·r̄(v) = 2·C(v⁻) + t + 1 is always
    // integer), so no per-row rank exists; every relation here is
    // calendar-bounded (types × days) whatever the corpus size. The ≤5
    // per-group R²/n terms are round(,9)-pinned into an exact DECIMAL
    // fold before the single H expression, so group summation order can
    // never flip the hash.
    "q_stats_kruskal" -> ((s, d) => {
      val daily = TimeSeriesQueries.dailyOf(t(s, d, "events"))
        .transform(CacheScope.persisted(_))
      val perv = daily.groupBy(col("c")).agg(count(lit(1)).as("t"))
      val bases = graft.text.TextAnalysisQueries.prefixBases(perv, "c", desc = false)
      val pergv = daily.groupBy(col("event_type"), col("c"))
        .agg(count(lit(1)).as("tg"))
      val r2 = pergv.join(perv, "c").join(bases, "c")
        .withColumn("r2v", lit(2L) * col("base") + col("t") + 1)
      val grp = r2.groupBy("event_type")
        .agg(sum(col("tg")).as("n_g"),
          sum(col("tg") * col("r2v")).as("r2sum"))
        .withColumn("term",
          round(dd(col("r2sum")) * dd(col("r2sum")) / dd(col("n_g")), 9)
            .cast(DecimalType(28, 9)))
      val ties = perv.agg(
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val glob = grp.agg(sum(col("n_g")).as("nn"),
          count(lit(1)).as("n_groups"),
          sum(col("term")).cast(DecimalType(32, 9)).as("tsum"))
        .crossJoin(broadcast(ties))
      val h = lit(3.0) * dd(col("tsum")) /
        (dd(col("nn")) * (dd(col("nn")) + 1.0)) -
        lit(3.0) * (dd(col("nn")) + 1.0)
      val corr = lit(1.0) - dd(col("ties")) /
        (dd(col("nn")) * dd(col("nn")) * dd(col("nn")) - dd(col("nn")))
      val hRow = glob.select(col("nn").cast("long").as("n_obs"),
        col("n_groups"), round(h, 6).as("h_stat"),
        round(h / corr, 6).as("h_tie"))
      grp.select(col("event_type"), col("n_g").cast("long").as("n_days"),
          round(dd(col("r2sum")) / (lit(2.0) * dd(col("n_g"))), 6).as("mean_rank"))
        .crossJoin(broadcast(hRow))
    }),

    // Mutual information between two candidate features (quantity decade,
    // discount band) and the return-flag label — the model-free feature
    // ranking a pipeline runs before committing training columns. Each
    // feature is one tiny contingency aggregation (cells bounded by the
    // feature domain × label domain, corpus-size-free); per-cell
    // c·ln(cN/(c_x·c_y)) terms are round(,9)-pinned into an exact DECIMAL
    // fold. Buckets are integer (floor on non-negative ints), so binning
    // is engine-exact.
    // mRMR feature selection (Peng et al. 2005 "minimum Redundancy
    // Maximum Relevance"): rank each candidate feature by its MI with
    // the label MINUS its mean MI with the OTHER candidates — the step
    // after q_ml_mutual_info's relevance-only ranking, and the standard
    // fix for "the top-2 by relevance are near-duplicates of each
    // other". Six MI scalars (3 relevance + 3 pairwise redundancy) all
    // derive from ONE persisted feature scan, each a bounded-cell
    // aggregation with the q_ml_mutual_info pinning (9dp terms summed
    // in DECIMAL); each MI lands as an EXACT 1e9-scaled integer
    // (sign-symmetric half-up division — the sim_embed_covariance
    // discipline, because the first cut re-rounded the derived mrmr at
    // 9dp and hit a genuine half-boundary tie the two engines' round()
    // implementations split on), so every derived number is integer
    // algebra down to one final division.
    "q_ml_mrmr" -> ((s, d) => {
      // ONE lineitem-sized pass to the 4-way contingency cube (bounded:
      // |f1|x|f2|x|f3|x|lbl| ~ 6k cells at any corpus size), eager-pinned
      // (bounded count — the MST/clusters discipline) so the 24 lineage
      // references below read the cache; all six pairwise marginal tables
      // derive from the cube, never from a second corpus scan.
      val cube = t(s, d, "lineitem").select(
          expr("CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000")
            .as("f1"),
          expr("CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) div 2")
            .as("f2"),
          col("l_linenumber").cast("long").as("f3"),
          col("l_returnflag").as("lbl"))
        .groupBy("f1", "f2", "f3", "lbl").agg(count(lit(1)).as("cc"))
        .transform(CacheScope.persisted(_))
      cube.count()
      // All six MI pipelines run as ONE tagged relation (explode the 6
      // (feature-pair) views of each cube cell, keys stringified so one
      // schema carries them): one cells aggregation, tag-keyed marginal
      // joins, one term fold — 4 aggregations total instead of 6x4
      // separate jobs (measured 4.3 s -> under 2 s).
      def tagged(tag: String, a: Column, b: Column) =
        struct(lit(tag).as("tag"), a.cast("string").as("fa"),
          b.cast("string").as("fb"), col("cc").as("cc"))
      val cells = cube.select(explode(array(
          tagged("m1l", col("f1"), col("lbl")),
          tagged("m2l", col("f2"), col("lbl")),
          tagged("m3l", col("f3"), col("lbl")),
          tagged("m12", col("f1"), col("f2")),
          tagged("m13", col("f1"), col("f3")),
          tagged("m23", col("f2"), col("f3")))).as("e"))
        .select(col("e.tag").as("tag"), col("e.fa").as("fa"),
          col("e.fb").as("fb"), col("e.cc").as("cc"))
        .groupBy("tag", "fa", "fb").agg(sum(col("cc")).as("c"))
        .transform(CacheScope.persisted(_))
      val mx = cells.groupBy("tag", "fa").agg(sum(col("c")).as("cx"))
      val my = cells.groupBy("tag", "fb").agg(sum(col("c")).as("cy"))
      val nn = cells.groupBy("tag").agg(sum(col("c")).as("nn"))
      val mi6 = cells.join(mx, Seq("tag", "fa")).join(my, Seq("tag", "fb"))
        .join(broadcast(nn), "tag")
        .select(col("tag"),
          round(dd(col("c")) * log(dd(col("c")) * dd(col("nn")) /
              (dd(col("cx")) * dd(col("cy")))), 9)
            .cast(DecimalType(28, 9)).as("term"),
          col("nn"))
        .groupBy("tag", "nn")
        .agg(sum(col("term")).cast(DecimalType(32, 9)).as("ts"))
        .select(col("tag"), expr(
          """CASE WHEN ts >= 0
            |  THEN CAST((CAST(ts * 1000000000 AS DECIMAL(38,0)) * 2 + nn)
            |            div (2 * nn) AS BIGINT)
            |  ELSE -CAST((CAST(-ts * 1000000000 AS DECIMAL(38,0)) * 2 + nn)
            |             div (2 * nn) AS BIGINT) END""".stripMargin)
          .as("mi9"))
      val w = mi6.agg(
        max(when(col("tag") === "m1l", col("mi9"))).as("m1l"),
        max(when(col("tag") === "m2l", col("mi9"))).as("m2l"),
        max(when(col("tag") === "m3l", col("mi9"))).as("m3l"),
        max(when(col("tag") === "m12", col("mi9"))).as("m12"),
        max(when(col("tag") === "m13", col("mi9"))).as("m13"),
        max(when(col("tag") === "m23", col("mi9"))).as("m23"))
      def outS(name: String, rel: String, ra: String, rb: String) =
        struct(lit(name).as("feature"),
          (col(rel).cast("double") / 1e9).as("mi_label"),
          ((col(ra) + col(rb)).cast("double") / 2e9).as("mean_redundancy"),
          ((col(rel) * 2 - col(ra) - col(rb)).cast("double") / 2e9)
            .as("mrmr"))
      w.select(explode(array(
          outS("qty_decade", "m1l", "m12", "m13"),
          outS("disc_band", "m2l", "m12", "m23"),
          outS("linenumber", "m3l", "m13", "m23"))).as("r"))
        .select(col("r.feature").as("feature"),
          col("r.mi_label").as("mi_label"),
          col("r.mean_redundancy").as("mean_redundancy"),
          col("r.mrmr").as("mrmr"))
    }),

    "q_ml_mutual_info" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        expr("CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000")
          .as("f_qty_decade"),
        expr("CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) div 2")
          .as("f_disc_band"),
        col("l_returnflag").as("lbl"))
        .transform(CacheScope.persisted(_))
      def miOf(fcol: String, tag: String): DataFrame = {
        val cells = li.groupBy(col(fcol).as("fv"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        val mx = cells.groupBy("fv").agg(sum(col("c")).as("cx"))
        val my = cells.groupBy("lbl").agg(sum(col("c")).as("cy"))
        val nn = cells.agg(sum(col("c")).as("nn"))
        cells.join(mx, "fv").join(broadcast(my), "lbl")
          .crossJoin(broadcast(nn))
          .select(round(dd(col("c")) *
              log(dd(col("c")) * dd(col("nn")) / (dd(col("cx")) * dd(col("cy")))), 9)
              .cast(DecimalType(28, 9)).as("term"),
            col("nn"))
          .groupBy("nn")
          .agg(count(lit(1)).as("n_cells"),
            sum(col("term")).cast(DecimalType(32, 9)).as("tsum"))
          .select(lit(tag).as("feature"), col("n_cells"),
            round(dd(col("tsum")) / dd(col("nn")), 9).as("mi_nats"))
      }
      miOf("f_qty_decade", "qty_decade")
        .unionByName(miOf("f_disc_band", "disc_band"))
    }),

    // Exact Shapley attribution of R² between the two candidate features
    // (quantity, discount) — with two players the Shapley value is
    // closed-form, φ₁ = ½·R²{1} + ½·(R²{12} − R²{2}), so the "which
    // feature actually carries the signal, accounting for their overlap"
    // question costs ONE scan: every R² (single- and two-feature OLS)
    // falls out of the same nine exact moments, with the two-feature fit
    // via the 2×2 normal-equation closed form — no iterative solver, no
    // per-coalition refit pass. Moment combination runs in IEEE doubles
    // with identical expression shape on both engines; each R² is
    // round(,9)-pinned before the Shapley algebra consumes it.
    "q_ml_shapley_r2" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        cents(col("l_quantity")).as("x1"),
        cents(col("l_discount")).as("x2"),
        cents(col("l_extendedprice")).as("y"))
      def dx(c: Column) = c.cast(DecimalType(14, 0))
      val m = li.agg(
        count(lit(1)).cast(DecimalType(12, 0)).as("n"),
        sum(col("x1")).cast(DecimalType(16, 0)).as("s1"),
        sum(col("x2")).cast(DecimalType(16, 0)).as("s2"),
        sum(col("y")).cast(DecimalType(20, 0)).as("sy"),
        // decimal products: the int64 sum of y*y overflows at sf0.1
        sum(dx(col("x1")) * dx(col("x1"))).cast(DecimalType(22, 0)).as("s11"),
        sum(dx(col("x1")) * dx(col("x2"))).cast(DecimalType(22, 0)).as("s12"),
        sum(dx(col("x2")) * dx(col("x2"))).cast(DecimalType(22, 0)).as("s22"),
        sum(dx(col("x1")) * dx(col("y"))).cast(DecimalType(26, 0)).as("s1y"),
        sum(dx(col("x2")) * dx(col("y"))).cast(DecimalType(26, 0)).as("s2y"),
        sum(dx(col("y")) * dx(col("y"))).cast(DecimalType(30, 0)).as("syy"))
      val a11 = dd(col("n")) * dd(col("s11")) - dd(col("s1")) * dd(col("s1"))
      val a22 = dd(col("n")) * dd(col("s22")) - dd(col("s2")) * dd(col("s2"))
      val a12 = dd(col("n")) * dd(col("s12")) - dd(col("s1")) * dd(col("s2"))
      val r1y = dd(col("n")) * dd(col("s1y")) - dd(col("s1")) * dd(col("sy"))
      val r2y = dd(col("n")) * dd(col("s2y")) - dd(col("s2")) * dd(col("sy"))
      val ayy = dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
      val det = a11 * a22 - a12 * a12
      val g = m.filter(a11 > 0.0 && a22 > 0.0 && ayy > 0.0 && abs(det) > 0.0)
        .select(col("n").cast("long").as("n"),
          round(r1y * r1y / (a11 * ayy), 9).as("rsq1"),
          round(r2y * r2y / (a22 * ayy), 9).as("rsq2"),
          round((a22 * r1y * r1y - lit(2.0) * a12 * r1y * r2y +
            a11 * r2y * r2y) / (det * ayy), 9).as("rsq12"))
      g.select(lit("quantity").as("feature"), col("n"),
          col("rsq1").as("r2_alone"), col("rsq12").as("r2_joint"),
          round(lit(0.5) * col("rsq1") +
            lit(0.5) * (col("rsq12") - col("rsq2")), 9).as("shapley"))
        .unionByName(
          g.select(lit("discount").as("feature"), col("n"),
            col("rsq2").as("r2_alone"), col("rsq12").as("r2_joint"),
            round(lit(0.5) * col("rsq2") +
              lit(0.5) * (col("rsq12") - col("rsq1")), 9).as("shapley")))
    }),

    // DP-SGD gradient-clipping audit over per-example L2 norms (the
    // embedding vector standing in for a per-example gradient): how many
    // examples exceed the clip norm C, and what average scale-down the
    // clip applies — the two numbers that decide whether C is so low the
    // signal is crushed or so high the noise multiplier dominates. The
    // clipped flag is EXACT (sum of int64 squared quantized elements vs
    // the integer threshold C²·1e6 — no float in the gate); per-row
    // scales/norms are identical-operand doubles pinned at 9dp and
    // DECIMAL-folded. Scale shape: one narrow map over the collection,
    // one global agg.
    "q_ml_grad_clip" -> ((s, d) => {
      import graft.sim.VecMath.quantize
      val v = t(s, d, "embeddings")
        .select(graft.functions.DotQ(quantize(col("embedding")),
          quantize(col("embedding"))).as("q2"))
        .select(col("q2"),
          (col("q2") > GradClipQ2).as("clipped"),
          sqrt(col("q2").cast("double") / 1e6).as("nrm"))
      v.agg(count(lit(1)).as("n_vectors"),
          sum(when(col("clipped"), 1L).otherwise(0L)).as("n_clipped"),
          sum(round(col("nrm"), 9).cast(DecimalType(24, 9))).as("snorm"),
          sum(round(when(col("clipped"), lit(GradClipNorm) / col("nrm"))
            .otherwise(lit(1.0)), 9).cast(DecimalType(24, 9))).as("sscale"))
        .filter(col("n_vectors") > 0)
        .select(col("n_vectors"), col("n_clipped"),
          round(col("n_clipped").cast("double") /
            col("n_vectors").cast("double"), 6).as("clip_frac"),
          round(col("snorm").cast("double") /
            col("n_vectors").cast("double"), 6).as("mean_norm"),
          round(col("sscale").cast("double") /
            col("n_vectors").cast("double"), 6).as("mean_scale"))
    }))


  private val DesignSql =
    """SELECT l_orderkey %% %d AS fold,
      |       CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
      |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |FROM lineitem""".stripMargin

  private val MomentsSql =
    """SELECT fold, CAST(count(*) AS DECIMAL(12,0)) AS n,
      |       CAST(sum(x) AS DECIMAL(18,0)) AS sx,
      |       CAST(sum(y) AS DECIMAL(20,0)) AS sy,
      |       CAST(sum(x * x) AS DECIMAL(24,0)) AS sxx,
      |       CAST(sum(x * y) AS DECIMAL(28,0)) AS sxy,
      |       CAST(sum(y * y) AS DECIMAL(30,0)) AS syy
      |FROM li GROUP BY fold""".stripMargin

  /** DP-SGD clip norm and its exact integer-squared-quantized threshold
    * (clipped ⇔ Σq² > C²·1e6). The corpus' norms sit at 1.0 ± 1e-3, so
    * C = 1.0 genuinely splits it.
    */
  val GradClipNorm = 1.0
  val GradClipQ2 = 1000000L

  override val oracles: Map[String, String] = Map(

    "q_ml_grad_clip" ->
      s"""WITH e AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS qx
         |  FROM embeddings
         |), v AS (
         |  SELECT vec_id, sum(qx * qx) AS q2,
         |         sum(qx * qx) > $GradClipQ2 AS clipped,
         |         sqrt(CAST(sum(qx * qx) AS DOUBLE) / 1e6) AS nrm
         |  FROM e GROUP BY 1
         |), agg AS (
         |  SELECT count(*) AS n_vectors,
         |         CAST(sum(CASE WHEN clipped THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
         |         sum(CAST(round(nrm, 9) AS DECIMAL(24,9))) AS snorm,
         |         sum(CAST(round(CASE WHEN clipped THEN $GradClipNorm / nrm
         |               ELSE 1.0 END, 9) AS DECIMAL(24,9))) AS sscale
         |  FROM v
         |)
         |SELECT n_vectors, n_clipped,
         |       round(CAST(n_clipped AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) AS clip_frac,
         |       round(CAST(snorm AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) AS mean_norm,
         |       round(CAST(sscale AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) AS mean_scale
         |FROM agg WHERE n_vectors > 0""".stripMargin,

    "q_ml_cvfolds" ->
      s"""WITH li AS (${DesignSql.format(CvFolds)}),
         |pf AS ($MomentsSql),
         |tot AS (
         |  SELECT CAST(sum(n) AS DECIMAL(14,0)) AS tn,
         |         CAST(sum(sx) AS DECIMAL(20,0)) AS tsx,
         |         CAST(sum(sy) AS DECIMAL(22,0)) AS tsy,
         |         CAST(sum(sxx) AS DECIMAL(26,0)) AS tsxx,
         |         CAST(sum(sxy) AS DECIMAL(30,0)) AS tsxy
         |  FROM pf
         |), j AS (
         |  SELECT pf.*,
         |         CAST(tn AS DOUBLE) - CAST(n AS DOUBLE) AS rn,
         |         CAST(tsx AS DOUBLE) - CAST(sx AS DOUBLE) AS rsx,
         |         CAST(tsy AS DOUBLE) - CAST(sy AS DOUBLE) AS rsy,
         |         CAST(tsxx AS DOUBLE) - CAST(sxx AS DOUBLE) AS rsxx,
         |         CAST(tsxy AS DOUBLE) - CAST(sxy AS DOUBLE) AS rsxy
         |  FROM pf, tot
         |), co AS (
         |  SELECT *, round((rn * rsxy - rsx * rsy) / (rn * rsxx - rsx * rsx), 9) AS b
         |  FROM j
         |), co2 AS (
         |  SELECT *, round((rsy - b * rsx) / rn, 9) AS a FROM co
         |)
         |SELECT fold, CAST(n AS BIGINT) AS n_test, b AS beta,
         |       round(a / 100.0, 6) AS intercept_usd,
         |       round(sqrt(greatest(
         |         CAST(syy AS DOUBLE) - 2.0 * a * CAST(sy AS DOUBLE) -
         |         2.0 * b * CAST(sxy AS DOUBLE) + 2.0 * a * b * CAST(sx AS DOUBLE) +
         |         a * a * CAST(n AS DOUBLE) + b * b * CAST(sxx AS DOUBLE),
         |         0.0) / CAST(n AS DOUBLE)) / 100.0, 4) AS rmse_usd
         |FROM co2""".stripMargin,

    "q_ml_learning_curve" -> {
      def pt(m: Int): String =
        s"""SELECT $m + 1 AS n_folds_train,
           |       CAST(t.tn AS BIGINT) AS n_train,
           |       round((CAST(t.tn AS DOUBLE) * CAST(t.tsxy AS DOUBLE) -
           |              CAST(t.tsx AS DOUBLE) * CAST(t.tsy AS DOUBLE)) /
           |             (CAST(t.tn AS DOUBLE) * CAST(t.tsxx AS DOUBLE) -
           |              CAST(t.tsx AS DOUBLE) * CAST(t.tsx AS DOUBLE)), 9) AS beta,
           |       round(1.0 - (CAST(h.hsyy AS DOUBLE)
           |         - 2.0 * t.a * CAST(h.hsy AS DOUBLE)
           |         - 2.0 * t.b * CAST(h.hsxy AS DOUBLE)
           |         + 2.0 * t.a * t.b * CAST(h.hsx AS DOUBLE)
           |         + t.a * t.a * CAST(h.hn AS DOUBLE)
           |         + t.b * t.b * CAST(h.hsxx AS DOUBLE)) /
           |         (CAST(h.hsyy AS DOUBLE) -
           |          CAST(h.hsy AS DOUBLE) * CAST(h.hsy AS DOUBLE) /
           |          CAST(h.hn AS DOUBLE)), 6) AS r2_holdout
           |FROM (
           |  SELECT tn, tsx, tsy, tsxx, tsxy, b,
           |         round((CAST(tsy AS DOUBLE) - b * CAST(tsx AS DOUBLE)) /
           |               CAST(tn AS DOUBLE), 9) AS a
           |  FROM (
           |    SELECT tn, tsx, tsy, tsxx, tsxy,
           |           round((CAST(tn AS DOUBLE) * CAST(tsxy AS DOUBLE) -
           |                  CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE)) /
           |                 (CAST(tn AS DOUBLE) * CAST(tsxx AS DOUBLE) -
           |                  CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE)), 9) AS b
           |    FROM (
           |      SELECT CAST(sum(n) AS DECIMAL(14,0)) AS tn,
           |             CAST(sum(sx) AS DECIMAL(20,0)) AS tsx,
           |             CAST(sum(sy) AS DECIMAL(22,0)) AS tsy,
           |             CAST(sum(sxx) AS DECIMAL(26,0)) AS tsxx,
           |             CAST(sum(sxy) AS DECIMAL(30,0)) AS tsxy
           |      FROM pf WHERE fold <= $m
           |    )
           |  )
           |) t CROSS JOIN hold h""".stripMargin
      s"""WITH li AS (${DesignSql.format(LcFolds)}),
         |pf AS ($MomentsSql),
         |hold AS (
         |  SELECT n AS hn, sx AS hsx, sy AS hsy, sxx AS hsxx,
         |         sxy AS hsxy, syy AS hsyy
         |  FROM pf WHERE fold = ${LcFolds - 1}
         |)
         |${LcSizes.map(pt).mkString("\nUNION ALL\n")}""".stripMargin
    },

    "q_ml_gmm_em" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |              AS BIGINT) // 10000 AS v
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2,
        |         min(v) AS mn, max(v) AS mx,
        |         CAST(sum(v) AS BIGINT) // count(*) AS m
        |  FROM daily GROUP BY 1
        |), p AS (
        |  SELECT event_type, n, s1, s2,
        |         (mn + m) // 2 AS mu1, (mx + m) // 2 AS mu2,
        |         (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |          CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
        |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS varg
        |  FROM st
        |  WHERE n >= 8 AND (mn + m) // 2 < (mx + m) // 2
        |), e AS (
        |  SELECT d.event_type, p.n, p.s1, d.v,
        |         CAST(round(1.0 / (1.0 + exp(
        |           CAST((d.v - p.mu2) * (d.v - p.mu2) -
        |                (d.v - p.mu1) * (d.v - p.mu1) AS DOUBLE) /
        |           (2.0 * p.varg))), 6) AS DECIMAL(10,6)) AS r
        |  FROM daily d JOIN p ON p.event_type = d.event_type
        |  WHERE p.varg > 0
        |), m AS (
        |  SELECT event_type, max(n) AS n, max(s1) AS s1,
        |         sum(r) AS sr, sum(r * CAST(v AS DECIMAL(20,0))) AS srx
        |  FROM e GROUP BY 1
        |  HAVING sum(r) > 0 AND sum(r) < max(n)
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |       round(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE), 6) AS weight2,
        |       round((CAST(s1 AS DOUBLE) - CAST(srx AS DOUBLE)) /
        |             (CAST(n AS DOUBLE) - CAST(sr AS DOUBLE)), 6) AS mu1_new,
        |       round(CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE), 6) AS mu2_new
        |FROM m""".stripMargin,

    "q_ml_conformal" ->
      s"""WITH li AS (${DesignSql.format(3)}),
         |m0 AS (
         |  SELECT CAST(count(*) AS DECIMAL(12,0)) AS n,
         |         CAST(sum(x) AS DECIMAL(18,0)) AS sx,
         |         CAST(sum(y) AS DECIMAL(20,0)) AS sy,
         |         CAST(sum(x * x) AS DECIMAL(24,0)) AS sxx,
         |         CAST(sum(x * y) AS DECIMAL(28,0)) AS sxy
         |  FROM li WHERE fold = 0
         |), coef AS (
         |  SELECT CAST(n AS BIGINT) AS n_train,
         |         CAST(round(
         |           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |            CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |           (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1e9, 0) AS BIGINT) AS b9,
         |         CAST(sy AS DOUBLE) AS dsy, CAST(sx AS DOUBLE) AS dsx,
         |         CAST(n AS DOUBLE) AS dn
         |  FROM m0
         |), coef2 AS (
         |  SELECT n_train, b9,
         |         CAST(round(((dsy - (CAST(b9 AS DOUBLE) / 1e9) * dsx) / dn) * 1e9, 0)
         |              AS BIGINT) AS a9
         |  FROM coef
         |), cal AS (
         |  SELECT abs(y * 1000000000 - a9 - b9 * x) AS r
         |  FROM li, coef2 WHERE fold = 1
         |), k AS (
         |  SELECT count(*) AS n_cal,
         |         least((9 * (count(*) + 1) + 9) // 10, count(*)) AS kk
         |  FROM cal
         |), q AS (
         |  SELECT min(r) AS qhat9 FROM (
         |    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal
         |  ) WHERE rn = (SELECT kk FROM k)
         |)
         |SELECT n_train, (SELECT n_cal FROM k) AS n_cal,
         |       count(*) AS n_test,
         |       round(CAST(b9 AS DOUBLE) / 1e9, 9) AS beta,
         |       round(CAST(qhat9 AS DOUBLE) / 1e11, 4) AS qhat_usd,
         |       round(CAST(sum(CASE WHEN abs(y * 1000000000 - a9 - b9 * x) <= qhat9
         |                           THEN 1 ELSE 0 END) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 6) AS coverage
         |FROM li, coef2, q WHERE fold = 2
         |GROUP BY n_train, b9, qhat9""".stripMargin,

    "q_stats_kruskal" ->
      s"""WITH daily AS (${graft.relational.TimeSeriesQueries.DailySql}),
         |perv AS (SELECT c, count(*) AS t FROM daily GROUP BY 1),
         |bases AS (
         |  SELECT b.c, coalesce(sum(o.t), 0) AS base
         |  FROM perv b LEFT JOIN perv o ON o.c < b.c GROUP BY 1
         |), pergv AS (
         |  SELECT event_type, c, count(*) AS tg FROM daily GROUP BY 1, 2
         |), r2 AS (
         |  SELECT g.event_type, g.tg, 2 * bs.base + p.t + 1 AS r2v
         |  FROM pergv g JOIN perv p USING (c) JOIN bases bs USING (c)
         |), grp AS (
         |  SELECT event_type, sum(tg) AS n_g, sum(tg * r2v) AS r2sum,
         |         CAST(round(CAST(sum(tg * r2v) AS DOUBLE) *
         |                    CAST(sum(tg * r2v) AS DOUBLE) /
         |                    CAST(sum(tg) AS DOUBLE), 9) AS DECIMAL(28,9)) AS term
         |  FROM r2 GROUP BY 1
         |), ties AS (
         |  SELECT sum(t * t * t - t) AS ties FROM perv
         |), gstat AS (
         |  SELECT sum(n_g) AS nn, count(*) AS n_groups,
         |         CAST(sum(term) AS DECIMAL(32,9)) AS tsum,
         |         (SELECT ties FROM ties) AS ties
         |  FROM grp
         |), hrow AS (
         |  SELECT CAST(nn AS BIGINT) AS n_obs, n_groups,
         |         round(3.0 * CAST(tsum AS DOUBLE) /
         |               (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)) -
         |               3.0 * (CAST(nn AS DOUBLE) + 1.0), 6) AS h_stat,
         |         round((3.0 * CAST(tsum AS DOUBLE) /
         |                (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)) -
         |                3.0 * (CAST(nn AS DOUBLE) + 1.0)) /
         |               (1.0 - CAST(ties AS DOUBLE) /
         |                (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) -
         |                 CAST(nn AS DOUBLE))), 6) AS h_tie
         |  FROM gstat
         |)
         |SELECT g.event_type, CAST(g.n_g AS BIGINT) AS n_days,
         |       round(CAST(g.r2sum AS DOUBLE) / (2.0 * CAST(g.n_g AS DOUBLE)), 6)
         |         AS mean_rank,
         |       h.n_obs, h.n_groups, h.h_stat, h.h_tie
         |FROM grp g, hrow h""".stripMargin,

    "q_ml_mrmr" -> {
      def miSql(tag: String, a: String, b: String) =
        s"""$tag AS MATERIALIZED (
           |  WITH cells AS (
           |    SELECT $a AS fa, $b AS fb, CAST(sum(cc) AS BIGINT) AS c
           |    FROM cube0 GROUP BY 1, 2
           |  ), mx AS (SELECT fa, sum(c) AS cx FROM cells GROUP BY 1),
           |  my AS (SELECT fb, sum(c) AS cy FROM cells GROUP BY 1),
           |  nn AS (SELECT sum(c) AS nn FROM cells)
           |  SELECT CASE WHEN ts >= 0
           |    THEN CAST((CAST(ts * 1000000000 AS HUGEINT) * 2 + nn)
           |              // (2 * nn) AS BIGINT)
           |    ELSE -CAST((CAST(-ts * 1000000000 AS HUGEINT) * 2 + nn)
           |               // (2 * nn) AS BIGINT) END AS mi9
           |  FROM (
           |    SELECT CAST(sum(CAST(round(CAST(c AS DOUBLE) *
           |        ln(CAST(c AS DOUBLE) * CAST(nn.nn AS DOUBLE) /
           |           (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
           |        AS DECIMAL(28,9))) AS DECIMAL(32,9)) AS ts,
           |      max(nn.nn) AS nn
           |    FROM cells JOIN mx USING (fa) JOIN my USING (fb), nn
           |  )
           |)""".stripMargin
      def rowSql(name: String, rel: String, ra: String, rb: String) =
        s"""SELECT '$name' AS feature,
           |       CAST($rel.mi9 AS DOUBLE) / 1e9 AS mi_label,
           |       CAST($ra.mi9 + $rb.mi9 AS DOUBLE) / 2e9 AS mean_redundancy,
           |       CAST($rel.mi9 * 2 - $ra.mi9 - $rb.mi9 AS DOUBLE) / 2e9 AS mrmr
           |FROM $rel, $ra, $rb""".stripMargin
      s"""WITH cube0 AS MATERIALIZED (
         |  SELECT f1, f2, f3, lbl, count(*) AS cc FROM (
         |    SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000
         |             AS f1,
         |           CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) // 2
         |             AS f2,
         |           CAST(l_linenumber AS BIGINT) AS f3,
         |           l_returnflag AS lbl
         |    FROM lineitem
         |  ) GROUP BY 1, 2, 3, 4
         |),
         |${miSql("m1l", "f1", "lbl")},
         |${miSql("m2l", "f2", "lbl")},
         |${miSql("m3l", "f3", "lbl")},
         |${miSql("m12", "f1", "f2")},
         |${miSql("m13", "f1", "f3")},
         |${miSql("m23", "f2", "f3")}
         |${rowSql("qty_decade", "m1l", "m12", "m13")}
         |UNION ALL
         |${rowSql("disc_band", "m2l", "m12", "m23")}
         |UNION ALL
         |${rowSql("linenumber", "m3l", "m13", "m23")}""".stripMargin
    },

    "q_ml_mutual_info" ->
      """WITH li AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000
        |           AS f_qty_decade,
        |         CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) // 2
        |           AS f_disc_band,
        |         l_returnflag AS lbl
        |  FROM lineitem
        |), mi1 AS (
        |  WITH cells AS (
        |    SELECT f_qty_decade AS fv, lbl, count(*) AS c FROM li GROUP BY 1, 2
        |  ), mx AS (SELECT fv, sum(c) AS cx FROM cells GROUP BY 1),
        |  my AS (SELECT lbl, sum(c) AS cy FROM cells GROUP BY 1),
        |  nn AS (SELECT sum(c) AS nn FROM cells)
        |  SELECT 'qty_decade' AS feature, count(*) AS n_cells,
        |         round(CAST(CAST(sum(CAST(round(CAST(c AS DOUBLE) *
        |             ln(CAST(c AS DOUBLE) * CAST(nn.nn AS DOUBLE) /
        |                (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
        |             AS DECIMAL(28,9))) AS DECIMAL(32,9)) AS DOUBLE) /
        |           CAST(max(nn.nn) AS DOUBLE), 9) AS mi_nats
        |  FROM cells JOIN mx USING (fv) JOIN my USING (lbl), nn
        |), mi2 AS (
        |  WITH cells AS (
        |    SELECT f_disc_band AS fv, lbl, count(*) AS c FROM li GROUP BY 1, 2
        |  ), mx AS (SELECT fv, sum(c) AS cx FROM cells GROUP BY 1),
        |  my AS (SELECT lbl, sum(c) AS cy FROM cells GROUP BY 1),
        |  nn AS (SELECT sum(c) AS nn FROM cells)
        |  SELECT 'disc_band' AS feature, count(*) AS n_cells,
        |         round(CAST(CAST(sum(CAST(round(CAST(c AS DOUBLE) *
        |             ln(CAST(c AS DOUBLE) * CAST(nn.nn AS DOUBLE) /
        |                (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
        |             AS DECIMAL(28,9))) AS DECIMAL(32,9)) AS DOUBLE) /
        |           CAST(max(nn.nn) AS DOUBLE), 9) AS mi_nats
        |  FROM cells JOIN mx USING (fv) JOIN my USING (lbl), nn
        |)
        |SELECT * FROM mi1 UNION ALL SELECT * FROM mi2""".stripMargin,

    "q_ml_shapley_r2" ->
      """WITH li AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x1,
        |         CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x2,
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem
        |), m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n0, count(*) AS nn,
        |         CAST(CAST(sum(x1) AS DECIMAL(16,0)) AS DOUBLE) AS s1,
        |         CAST(CAST(sum(x2) AS DECIMAL(16,0)) AS DOUBLE) AS s2,
        |         CAST(CAST(sum(y) AS DECIMAL(20,0)) AS DOUBLE) AS sy,
        |         CAST(CAST(sum(x1 * x1) AS DECIMAL(22,0)) AS DOUBLE) AS s11,
        |         CAST(CAST(sum(x1 * x2) AS DECIMAL(22,0)) AS DOUBLE) AS s12,
        |         CAST(CAST(sum(x2 * x2) AS DECIMAL(22,0)) AS DOUBLE) AS s22,
        |         CAST(CAST(sum(x1 * y) AS DECIMAL(26,0)) AS DOUBLE) AS s1y,
        |         CAST(CAST(sum(x2 * y) AS DECIMAL(26,0)) AS DOUBLE) AS s2y,
        |         CAST(CAST(sum(y * y) AS DECIMAL(30,0)) AS DOUBLE) AS syy
        |  FROM li
        |), f AS (
        |  SELECT nn,
        |         n0 * s11 - s1 * s1 AS a11, n0 * s22 - s2 * s2 AS a22,
        |         n0 * s12 - s1 * s2 AS a12,
        |         n0 * s1y - s1 * sy AS r1y, n0 * s2y - s2 * sy AS r2y,
        |         n0 * syy - sy * sy AS ayy
        |  FROM m
        |), g AS (
        |  SELECT CAST(nn AS BIGINT) AS n,
        |         round(r1y * r1y / (a11 * ayy), 9) AS rsq1,
        |         round(r2y * r2y / (a22 * ayy), 9) AS rsq2,
        |         round((a22 * r1y * r1y - 2.0 * a12 * r1y * r2y +
        |                a11 * r2y * r2y) / ((a11 * a22 - a12 * a12) * ayy), 9) AS rsq12
        |  FROM f
        |  WHERE a11 > 0.0 AND a22 > 0.0 AND ayy > 0.0
        |    AND abs(a11 * a22 - a12 * a12) > 0.0
        |)
        |SELECT 'quantity' AS feature, n, rsq1 AS r2_alone, rsq12 AS r2_joint,
        |       round(0.5 * rsq1 + 0.5 * (rsq12 - rsq2), 9) AS shapley
        |FROM g
        |UNION ALL
        |SELECT 'discount', n, rsq2, rsq12,
        |       round(0.5 * rsq2 + 0.5 * (rsq12 - rsq1), 9)
        |FROM g""".stripMargin)
}
