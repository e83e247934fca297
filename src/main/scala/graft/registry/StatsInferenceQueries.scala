package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — statistical inference: hypothesis tests,
  * experiment analysis (A/B, sequential, uplift), correlation and
  * trend significance (SURVEY.md family F). Split from StatsQueries
  * at the inference/eval seam (the Rollups split rule: no file >3k).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object StatsInferenceQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q338_cliffs_delta" -> ((s, dir) => {
      // F73 ordinal effect size click vs view — the magnitude
      // companion to q199's z, from the same exact integer
      // double-ranks; the label is decided by integer cross products
      val t = Tables(s, dir)
      Rollups.cliffsDelta(t.events, "event_type", "value", "click", "view")
    }),
    "q339_mcnemar" -> ((s, dir) => {
      // F74 paired binary flip test: per user, did-click vs
      // did-purchase — the within-subject companion to q156's
      // independent two-proportion z; continuity-corrected χ²
      val t = Tables(s, dir)
      val pairs = t.events.groupBy("user_id").agg(
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
      Rollups.mcnemar(pairs, "a", "b")
    }),
    "q342_wasserstein" -> ((s, dir) => {
      // F75 earth-mover distance click vs view — the "moved by how
      // many dollars" companion to q192's KS significance; fully
      // integer until one final division
      val t = Tables(s, dir)
      Rollups.wasserstein1(t.events, "event_type", "value", "click", "view")
    }),
    "q343_ljung_box" -> ((s, dir) => {
      // D31 white-noise portmanteau gate on the daily event-count
      // series per type: Q over ACF lags 1..7, pico-unit order-free
      // term sums, time-arithmetic lag pairing
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.ljungBox(daily, Seq("event_type"), "day", "cnt", maxLag = 7)
    }),
    "q156_ab_ztest" -> ((s, dir) => {
      // two-proportion A/B z statistic per event_type: variant B =
      // odd user_id, success = value > 0.5 — one conditional
      // map-side-combined aggregate, exact integer counts
      val t = Tables(s, dir)
      Rollups.twoProportionZ(t.events, Seq("event_type"),
        col("user_id") % 2 === 1, col("value") > 0.5,
        variantA = Some(col("user_id") % 2 === 0))
    }),
    "q173_bootstrap_ci" -> ((s, dir) => {
      // F18 Poisson-bootstrap CI of the mean value per event type:
      // all 64 resample means from one pass (map-side rep explosion
      // absorbed by the (key, rep) combine), exact integer cents
      val t = Tables(s, dir)
      Rollups.bootstrapMeanCI(t.events, Seq("event_type"), "value", "event_id")
    }),
    "q175_mutual_info" -> ((s, dir) => {
      // F20 categorical mutual information lang ⇄ source: exact-count
      // cell table with PMI + MI contributions; corpus touched once
      val t = Tables(s, dir)
      Rollups.mutualInfo(t.documents, "lang", "source")
    }),
    "q178_fdr" -> ((s, dir) => {
      // F21 Benjamini–Hochberg FDR over q19's correlation p-values —
      // the multiple-testing correction analysis.ipynb stops short
      // of; global windows run over the HYPOTHESIS table, never data
      val t = Tables(s, dir)
      Rollups.bhAdjust(
        Rollups.peakYearCorrelation(AssociationScore.byDatasource(t.evidence)),
        "p_value", Seq("datasourceIdA", "datasourceIdB"))
    }),
    "q182_chi_square" -> ((s, dir) => {
      // F22 Pearson χ² + Cramér's V for lang ⇄ source — q175's
      // hypothesis-test companion; empty cells folded in closed form
      val t = Tables(s, dir)
      Rollups.chiSquare(t.documents, "lang", "source")
    }),
    "q192_ks_test" -> ((s, dir) => {
      // F25 two-sample KS: did click and view draw their values from
      // the same distribution? Exact long CDF gaps, one report row
      val t = Tables(s, dir)
      Rollups.ksTest(t.events, "event_type", "value", "click", "view")
    }),
    "q196_spearman" -> ((s, dir) => {
      // F26 monotone value-vs-time drift per event type: Spearman rho
      // on integer double-average-ranks, one (type) exchange
      val t = Tables(s, dir)
      val e = t.events.filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("v"),
          expr("unix_micros(ts)").as("tus"))
      Rollups.spearman(e, Seq("event_type"), "v", "tus")
    }),
    "q214_bootstrap_diff" -> ((s, dir) => {
      // F33 resampling CI around the click-vs-view mean gap — the
      // q173 Poisson machinery pointed at the A/B effect
      val t = Tables(s, dir)
      Rollups.bootstrapDiffCI(t.events, "event_type", "value",
        "click", "view", "event_id")
    }),
    "q218_ols2" -> ((s, dir) => {
      // F36 two-regressor OLS in closed form: price on quantity
      // controlling for discount, one scan, Cramer on exact moments
      val t = Tables(s, dir)
      Rollups.ols2(t.lineitem, "l_extendedprice", "l_quantity", "l_discount")
    }),
    "q219_partial_corr" -> ((s, dir) => {
      // F37 confounder screen: quantity-price dependence with the
      // discount channel partialled out
      val t = Tables(s, dir)
      Rollups.partialCorr(t.lineitem, "l_quantity", "l_extendedprice",
        "l_discount")
    }),
    "q256_permutation" -> ((s, dir) => {
      // F49 randomization test: assumption-free p for the click-vs-
      // view value gap via 64 seeded md5 relabels
      val t = Tables(s, dir)
      Rollups.permutationDiffTest(t.events, "event_type", "value",
        "click", "view", "event_id")
    }),
    "q257_yuen" -> ((s, dir) => {
      // F50 Yuen 20%-trimmed robust mean test, click vs view values
      val t = Tables(s, dir)
      Rollups.yuenTrimmed(t.events, "event_type", "value", "click", "view")
    }),
    "q255_heterogeneity" -> ((s, dir) => {
      // F48 Cochran's Q across event-type segments: is the parity-arm
      // value gap ONE effect or segment-specific?
      val t = Tables(s, dir)
      Rollups.effectHeterogeneity(
        t.events.withColumn("arm", parityArm),
        "event_type", "arm", "value", "A", "B")
    }),
    "q244_cuped" -> ((s, dir) => {
      // F46 CUPED variance reduction: post-cutoff spend tested with
      // the pre-cutoff spend covariate removed (parity arms)
      val t = Tables(s, dir)
      val day = dayOf
      val anchor = broadcast(t.events.agg((max(day) - 6).as("__cut")))
      val users = t.events
        .select(col("user_id"), day.as("__d"),
          coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("__c"))
        .crossJoin(anchor)
        .groupBy("user_id")
        .agg(
          sum(when(col("__d") < col("__cut"), col("__c")).otherwise(0L)).as("__pre"),
          sum(when(col("__d") >= col("__cut"), col("__c")).otherwise(0L)).as("__post"))
        .select(col("user_id"),
          (col("__pre") / lit(100.0)).as("pre"),
          (col("__post") / lit(100.0)).as("post"),
          when(pmod(col("user_id"), lit(2)) === 1, "B").otherwise("A").as("arm"))
      Rollups.cuped(users, "arm", "post", "pre", "A", "B")
    }),
    "q245_ratio_delta" -> ((s, dir) => {
      // F47 delta-method ratio metric: clicks-per-view tested at the
      // USER grain — the correct SE for a ratio of sums
      val t = Tables(s, dir)
      val users = t.events.groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 1, "B").otherwise("A"))
      Rollups.ratioMetricDelta(users, "arm", "x", "y", "A", "B")
    }),
    "q233_srm" -> ((s, dir) => {
      // F41 sample-ratio-mismatch gate on the q156 A/B arms: does
      // the observed split match the intended 50/50?
      val t = Tables(s, dir)
      Rollups.srmCheck(
        t.events.withColumn("arm", parityArm),
        "arm", "A", "B")
    }),
    "q226_paired_uplift" -> ((s, dir) => {
      // F38 within-user matched-pair effect: click value vs the same
      // user's nearest preceding view, paired t
      val t = Tables(s, dir)
      EventWindows.pairedUplift(t.events, "click", "view")
    }),
    "q210_mde" -> ((s, dir) => {
      // F32 experiment sizing: smallest mean gap the click-vs-view
      // sample could detect at α=0.05 / 80% power
      val t = Tables(s, dir)
      Rollups.minDetectableEffect(t.events, "event_type", "value",
        "click", "view")
    }),
    "q207_anova" -> ((s, dir) => {
      // F30 one-way ANOVA: does ANY event type's mean value differ?
      // one dim-sized combine + a one-row reduce, exact cent sums
      val t = Tables(s, dir)
      Rollups.anovaF(t.events, "event_type", "value")
    }),
    "q208_welch" -> ((s, dir) => {
      // F31 Welch unequal-variance t-test, click vs view values
      val t = Tables(s, dir)
      Rollups.welchT(t.events, "event_type", "value", "click", "view")
    }),
    "q204_corr_matrix" -> ((s, dir) => {
      // F29 pairwise correlation matrix over four lineitem measures
      // in ONE scan — a single O(k²)-state combine, then a stack
      val t = Tables(s, dir)
      Rollups.corrMatrix(t.lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    }),
    "q199_mann_whitney" -> ((s, dir) => {
      // F27 rank-sum location test click vs view — the tie-corrected
      // U/z from exact integer double-ranks
      val t = Tables(s, dir)
      Rollups.mannWhitney(t.events, "event_type", "value", "click", "view")
    }),
    "q275_msprt" -> ((s, dir) => {
      // F58 always-valid mSPRT p-value sequence: parity-arm value gap
      // monitored daily — peek-safe sequential testing over the
      // cumulative day-grain moments
      val t = Tables(s, dir)
      Rollups.msprtSequence(
        t.events
          .withColumn("day0", dayOf)
          .withColumn("arm", parityArm),
        "arm", "value", "A", "B",
        dayCol = "day0",
        tauSq = 1.0)
    }),
    "q284_msprt_srm" -> ((s, dir) => {
      // F59 sequential SRM: parity-arm assignment share vs the 50/50
      // design, monitored daily with an always-valid one-sample mSPRT
      val t = Tables(s, dir)
      Rollups.msprtSrm(
        t.events.filter(col("user_id").isNotNull)
          .withColumn("day0", dayOf)
          .withColumn("arm", parityArm),
        "arm", "A", "day0")
    }),
    "q286_eb_shrink" -> ((s, dir) => {
      // F60 empirical-Bayes CTR shrinkage: per-user click share among
      // click/view events, shrunk toward the method-of-moments beta
      // prior fit on the per-user rate table
      val t = Tables(s, dir)
      Rollups.ebShrinkRates(
        t.events.filter(col("event_type").isin("click", "view") &&
          col("user_id").isNotNull)
          .withColumn("is_click",
            when(col("event_type") === "click", 1L).otherwise(0L)),
        "user_id", "is_click")
    }),
    "q287_tukey" -> ((s, dir) => {
      // F61 Tukey-Kramer post-hoc: which event-type value means
      // differ, as studentized-range q statistics over the ANOVA MSW
      val t = Tables(s, dir)
      Rollups.tukeyQStats(t.events, "event_type", "value")
    }),
    "q291_kendall_tau" -> ((s, dir) => {
      // F62 Kendall τ-b: do 'view' and 'purchase' daily volumes move
      // together — concordant day pairs over the dense calendar, with
      // the τ-b tie normalization (zero days tie heavily by design)
      val t = Tables(s, dir)
      Rollups.kendallTau(t.events, "view", "purchase")
    }),
    "q292_kruskal_wallis" -> ((s, dir) => {
      // F63 Kruskal–Wallis: do ANY of the event-type value
      // distributions differ — rank-based omnibus on pooled cents,
      // tie-corrected (the k-group Mann–Whitney / rank-ANOVA)
      val t = Tables(s, dir)
      Rollups.kruskalWallis(t.events, "event_type", "value")
    }),
    "q330_jonckheere" -> ((s, dir) => {
      // F71 Jonckheere–Terpstra: does order total trend MONOTONE
      // across the a-priori priority order 1-URGENT..5-LOW — the
      // ordered-alternative sharpening of q292's omnibus; value-grain
      // CDFs (the F25 contract at G=5), exact doubled statistic
      val t = Tables(s, dir)
      Rollups.jonckheereTerpstra(t.orders, "o_orderpriority",
        "o_totalprice", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
    }),
    "q331_cochran_armitage" -> ((s, dir) => {
      // F72 Cochran–Armitage: does the fulfilled-order rate trend
      // across the priority order — q330's proportions companion;
      // one conditional combine, integer T and multiplied-through
      // variance, one final ratio
      val t = Tables(s, dir)
      Rollups.cochranArmitage(t.orders, "o_orderpriority",
        col("o_orderstatus") === "F", Seq("1-URGENT", "2-HIGH",
          "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    }),
    "q293_mann_kendall" -> ((s, dir) => {
      // D23 Mann–Kendall: monotone-trend significance per datasource
      // yearly evidence series — the q195 Theil–Sen slope's
      // significance companion on the SAME series
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.mannKendall(series, Seq("datasourceId"), "year", "n")
    }),
    "q313_odds_ratio" -> ((s, dir) => {
      // F69 odds ratio + Woolf log-CI on the same 2x2 as q311 —
      // purchase odds, even vs odd user cohorts
      val t = Tables(s, dir)
      Rollups.oddsRatio(
        t.events.filter(col("user_id").isNotNull)
          .withColumn("arm", parityArm),
        "arm", col("event_type") === "purchase", "A", "B")
    }),
    "q311_newcombe" -> ((s, dir) => {
      // F68 Newcombe hybrid-Wilson CI around the purchase-share
      // difference between even/odd user cohorts — the interval to
      // report beside q156's z statistic
      val t = Tables(s, dir)
      Rollups.newcombeDiff(
        t.events.filter(col("user_id").isNotNull)
          .withColumn("arm", parityArm),
        "arm", col("event_type") === "purchase", "A", "B")
    }),
    "q310_effect_size" -> ((s, dir) => {
      // F67 Cohen's d / Hedges' g: how BIG is the click-vs-view value
      // difference — the standardized effect beside q208's Welch t
      val t = Tables(s, dir)
      Rollups.effectSize(t.events, "event_type", "value", "click", "view")
    }),
    "q300_wilson" -> ((s, dir) => {
      // F66 Wilson 95% score interval on the purchase share per user
      // cohort — the small-n-honest proportion CI (Wald collapses at
      // extreme p̂)
      val t = Tables(s, dir)
      Rollups.wilsonInterval(
        t.events.filter(col("user_id").isNotNull)
          .withColumn("cohort", pmod(col("user_id"), lit(10L))),
        "cohort", col("event_type") === "purchase")
    }),
    "q298_brown_forsythe" -> ((s, dir) => {
      // F65 Brown–Forsythe: did the VALUE SPREAD change across event
      // types — ANOVA F on |x − median_g|, the equal-variance gate
      // q207's ANOVA assumes
      val t = Tables(s, dir)
      Rollups.brownForsythe(t.events, "event_type", "value")
    }),
    "q355_median_test" -> ((s, dir) => {
      // F82 Brown–Mood median test click vs view: the bluntest
      // assumption-free location check — exact pooled lower median,
      // exact 2×2 cells, one final χ² division
      val t = Tables(s, dir)
      Rollups.moodMedianTest(t.events, "event_type", "value",
        "click", "view")
    }),
    "q354_mood" -> ((s, dir) => {
      // F81 rank-dispersion click vs view: do the two distributions
      // differ in SPREAD — the third rank-test axis next to q199's
      // location and q298's level-deviation variance check
      val t = Tables(s, dir)
      Rollups.moodTest(t.events, "event_type", "value", "click", "view")
    }),
    "q353_cvm" -> ((s, dir) => {
      // F80 whole-curve distribution comparison click vs view —
      // completes the KS/W1/CvM trio; fully integer until one final
      // division
      val t = Tables(s, dir)
      Rollups.cramerVonMises(t.events, "event_type", "value",
        "click", "view")
    }),
    "q352_pettitt" -> ((s, dir) => {
      // D32 distribution-free changepoint on the daily event-count
      // series per type — the rank-based robust companion to q197's
      // mean-split changepoint; exact integer doubled-rank U_t
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.pettitt(daily, Seq("event_type"), "day", "cnt")
    }),
    "q349_kendall_w" -> ((s, dir) => {
      // F78 Kendall's W: HOW concordant are the day-wise event-type
      // rankings — the magnitude companion to q295's Friedman χ²,
      // same blocked doubled-rank frame
      val t = Tables(s, dir)
      Rollups.kendallW(t.events,
        dayOf, col("event_type"))
    }),
    "q295_friedman" -> ((s, dir) => {
      // F64 Friedman: do any event types consistently out-rank the
      // others across days — blocks=days, treatments=types, zero-
      // filled dense cross, within-day average ranks
      val t = Tables(s, dir)
      Rollups.friedman(t.events,
        dayOf, col("event_type"))
    }),
    "q373_bartlett" -> ((s, dir) => {
      // F100 Bartlett: the normal-theory variance-homogeneity test
      // next to q298's robust Brown–Forsythe — run both, trust BF
      // when they disagree
      val t = Tables(s, dir)
      Rollups.bartlett(t.events, "event_type", "value")
    }),
    "q374_levene" -> ((s, dir) => {
      // F101 Levene (mean-centered): the textbook original of the
      // variance-homogeneity family; deviations carried as exact
      // integer numerators via the multiply-through trick
      val t = Tables(s, dir)
      Rollups.levene(t.events, "event_type", "value")
    }),
    "q375_cochran_q" -> ((s, dir) => {
      // F102 Cochran's Q: did ANY event type shift users' high-value
      // hit rate — blocks=users, treatments=types, binary cells,
      // exact integers until one division
      val t = Tables(s, dir)
      Rollups.cochranQ(
        t.events.filter(col("user_id").isNotNull && col("event_type").isNotNull),
        col("user_id"), col("event_type"), col("value") > 50)
    }),
    "q376_page_trend" -> ((s, dir) => {
      // F103 Page's L: is the event-type effect MONOTONE in the
      // lexicographic type order — the ordered sharpening of q295's
      // Friedman, same dense doubled-rank frame
      val t = Tables(s, dir)
      Rollups.pageTrend(t.events,
        dayOf, col("event_type"))
    }),
    "q380_g_test" -> ((s, dir) => {
      // F104 G-test lang ⇄ source: q182 χ²'s information-theoretic
      // twin (G = 2N·MI — the additive statistic), observed cells
      // only, empty cells contribute exactly zero
      val t = Tables(s, dir)
      Rollups.gTest(t.documents, "lang", "source")
    }),
    "q381_cmh" -> ((s, dir) => {
      // F105 Cochran–Mantel–Haenszel: is the odd-cohort success edge
      // real AFTER conditioning on day — the Simpson's-paradox guard
      // over q156's unstratified two-proportion z; day-strata 2×2s,
      // continuity-corrected CMH + Mantel–Haenszel pooled odds ratio
      val t = Tables(s, dir)
      Rollups.cmh(
        t.events.filter(col("user_id").isNotNull && col("value").isNotNull),
        dayOf,
        col("user_id") % 2 === 1, col("value") > 0.5)
    }),
    "q382_dunn" -> ((s, dir) => {
      // F106 Dunn post-hoc: WHICH event-type pairs differ once q292's
      // Kruskal–Wallis omnibus fires — pooled-rank pairwise z with
      // the pooled tie correction, never per-pair re-ranks
      val t = Tables(s, dir)
      Rollups.dunn(t.events, "event_type", "value")
    }),
    "q383_cox_stuart" -> ((s, dir) => {
      // D35 Cox–Stuart: O(n) sign-test drift screen on the daily
      // event-count series per type — pairs each day with its
      // half-series successor (q195 estimates the slope, q293 ranks
      // all pairs; this is the cheap first gate)
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.coxStuart(daily, Seq("event_type"), "day", "cnt")
    }),
    "q384_kpss" -> ((s, dir) => {
      // D36 KPSS level-stationarity per event-type daily series —
      // the null-reversed companion to q197/q293 (they hunt a change,
      // η scores how un-stationary the level already is); exact
      // integers until one division
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.kpss(daily, Seq("event_type"), "day", "cnt")
    }),
    "q404_conformal" -> ((s, dir) => {
      // F110 split-conformal calibration: the ⌈(n+1)(1−α)⌉-th
      // calibration nonconformity gives distribution-free ±q̂ bands;
      // the report MEASURES held-out coverage per event type
      val t = Tables(s, dir)
      Rollups.conformalCalibration(t.events, "event_type", "value",
        "event_id")
    }),
    "q405_deming" -> ((s, dir) => {
      // F111 Deming (errors-in-variables) regression of daily view
      // counts on daily click counts — both instruments are noisy,
      // OLS is biased toward zero by design; slope≈1, intercept≈0
      // means the two measure the same activity
      val t = Tables(s, dir)
      val daily = dailyClickView(t.events)
      Rollups.deming(daily, "x", "y")
    }),
    "q397_ad2" -> ((s, dir) => {
      // F107 Anderson–Darling click vs view: the TAIL-sensitive
      // member next to q192's center-dominated KS and q342's
      // magnitude Wasserstein — 1/[F(1−F)]-weighted squared CDF gap,
      // Scholz–Stephens tie-aware midranks
      val t = Tables(s, dir)
      Rollups.ad2Test(t.events, "event_type", "value", "click", "view")
    }),
    "q398_squared_ranks" -> ((s, dir) => {
      // F108 Conover squared-ranks (median-centered): the RANK member
      // that completes the variance-homogeneity family (q373 normal
      // theory, q374 mean, q298 median, this — no moments at all)
      val t = Tables(s, dir)
      Rollups.squaredRanks(t.events, "event_type", "value")
    }),
    "q385_turning_points" -> ((s, dir) => {
      // D37 turning-point + difference-sign IID screens on the daily
      // series — too few turning points = momentum, skewed ascent
      // count = drift; the assumption-free pre-gate before q205's
      // model-bound Durbin–Watson
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.turningPoints(daily, Seq("event_type"), "day", "cnt")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // Wasserstein-1: the q192 CDF CTE plus value gaps — the sum is
    // exact HUGEINT (mirrors decimal(38,0)), one final division.
    "q342_wasserstein" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT v,
        |         sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
        |         sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2,
        |         lead(v) OVER (ORDER BY v) AS nv
        |  FROM p
        |),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM p),
        |m AS (
        |  SELECT t.n1, t.n2,
        |         sum(abs(CAST(f1 AS HUGEINT) * t.n2
        |                 - CAST(f2 AS HUGEINT) * t.n1) * (nv - v)) AS num
        |  FROM c CROSS JOIN t WHERE nv IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT n1, n2,
        |       round(CAST(num AS DOUBLE)
        |             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0), 4)
        |         AS w1
        |FROM m""".stripMargin,
    // Ljung-Box: time-arithmetic lag pairs (the q140 convention),
    // multiplied-through integer ACF in HUGEINT, pico-unit terms via
    // the engine-identical floor(x*1e12 + 0.5), one final expression.
    "q343_ljung_box" ->
      s"""WITH s AS (
        |${DailyCountsSql("x")}
        |),
        |tot AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(x) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM s GROUP BY 1
        |),
        |pr AS (
        |  SELECT a.event_type, ks.k,
        |         CAST(count(*) AS HUGEINT) AS m,
        |         CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS sxy,
        |         CAST(sum(a.x) AS HUGEINT) AS sxt,
        |         CAST(sum(b.x) AS HUGEINT) AS sxp
        |  FROM s a
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS k) ks
        |  JOIN s b ON b.event_type = a.event_type
        |          AND b.day = a.day - ks.k
        |  GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT pr.event_type, pr.k, t.n,
        |         (t.n * t.n * pr.sxy - t.n * t.sx * (pr.sxt + pr.sxp)
        |           + pr.m * t.sx * t.sx) AS num,
        |         (t.n * (t.n * t.sxx - t.sx * t.sx)) AS den
        |  FROM pr JOIN tot t USING (event_type)
        |),
        |tm AS (
        |  SELECT event_type, n, k,
        |         CASE WHEN den > 0 THEN
        |           CAST(floor((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |                * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |                / CAST(n - k AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
        |         END AS term,
        |         CASE WHEN den > 0 THEN 1 ELSE 0 END AS ok
        |  FROM r
        |)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS n_lags,
        |       CASE WHEN min(ok) = 1 AND max(n) > 7 THEN
        |         round(CAST(max(n) AS DOUBLE) * CAST(max(n) + 2 AS DOUBLE)
        |               * (CAST(sum(term) AS DOUBLE) / 1e12), 4)
        |       END AS q_lb
        |FROM tm GROUP BY 1""".stripMargin,
    // Cliff's delta: q199's double-rank CTE; the numerator 2U1 − n1·n2
    // stays exact integer (HUGEINT mirrors decimal(38,0)); the
    // magnitude band compares integer cross products, ulp-proof.
    "q338_cliffs_delta" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |r AS (
        |  SELECT c1, c2,
        |         $Midrank2Sql AS r2
        |  FROM p
        |),
        |a AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |         sum(CAST(c1 AS HUGEINT) * r2) AS r2sum1
        |  FROM r
        |),
        |b AS (
        |  SELECT n1, n2,
        |         r2sum1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS twoU1,
        |         CAST(n1 AS HUGEINT) * n2 AS den
        |  FROM a
        |),
        |c AS (SELECT *, twoU1 - den AS num FROM b)
        |SELECT n1, n2,
        |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS delta,
        |       round(CAST(twoU1 AS DOUBLE) / (2.0 * CAST(den AS DOUBLE)), 4)
        |         AS a_hat,
        |       CASE WHEN abs(num) * 1000 < den * 147 THEN 'negligible'
        |            WHEN abs(num) * 1000 < den * 330 THEN 'small'
        |            WHEN abs(num) * 1000 < den * 474 THEN 'medium'
        |            ELSE 'large' END AS magnitude
        |FROM c""".stripMargin,
    // McNemar: exact 2×2 concordance cells; χ² is one integer-over-
    // integer division (true-ratio class), null when no discordants.
    "q339_mcnemar" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1
        |),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b01,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b10
        |  FROM u
        |)
        |SELECT n, n11, n00, b01, b10,
        |       CASE WHEN b01 + b10 > 0 THEN
        |         round(CAST(greatest(abs(b01 - b10) - 1, 0) AS DOUBLE)
        |               * CAST(greatest(abs(b01 - b10) - 1, 0) AS DOUBLE)
        |               / (b01 + b10), 4) END AS chi2
        |FROM c""".stripMargin,
    "q156_ab_ztest" ->
      """WITH g AS (
        |  SELECT event_type,
        |         CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
        |         CAST(count(CASE WHEN user_id % 2 = 0 AND value > 0.5 THEN 1 END) AS BIGINT) AS x_a,
        |         CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_b,
        |         CAST(count(CASE WHEN user_id % 2 = 1 AND value > 0.5 THEN 1 END) AS BIGINT) AS x_b
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type, n_a, x_a, n_b, x_b,
        |       CASE WHEN n_a > 0 AND n_b > 0
        |                 AND (x_a + x_b) > 0 AND (x_a + x_b) < (n_a + n_b)
        |         THEN round(
        |           (CAST(x_b AS DOUBLE)/n_b - CAST(x_a AS DOUBLE)/n_a)
        |           / sqrt((CAST(x_a + x_b AS DOUBLE)/(n_a + n_b))
        |                  * (1 - CAST(x_a + x_b AS DOUBLE)/(n_a + n_b))
        |                  * (1.0/n_a + 1.0/n_b)), 4)
        |       END AS z
        |FROM g""".stripMargin,
    "q173_bootstrap_ci" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(event_id AS VARCHAR) AS id,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
         |),
         |r AS (
         |  SELECT event_type, cents,
         |         ${HexValSql("md5(id || ':boot:' || CAST(rep AS VARCHAR))", 1, 6)} AS b,
         |         rep
         |  FROM ev CROSS JOIN (SELECT unnest(range(0, 64)) AS rep)
         |),
         |w AS (
         |  SELECT event_type, rep, cents,
         |         CASE WHEN b < 6171992 THEN 0 WHEN b < 12343985 THEN 1
         |              WHEN b < 15429982 THEN 2 WHEN b < 16458647 THEN 3
         |              WHEN b < 16715813 THEN 4 WHEN b < 16767247 THEN 5
         |              WHEN b < 16775819 THEN 6 WHEN b < 16777044 THEN 7
         |              ELSE 8 END AS w
         |  FROM r
         |),
         |pr AS (
         |  SELECT event_type, rep, sum(w * cents) AS ws, sum(w) AS wn
         |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0
         |),
         |m AS (
         |  SELECT event_type,
         |         CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) / 100.0 AS mean
         |  FROM pr
         |),
         |ci AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
         |         round(quantile_cont(mean, 0.025), 4) AS ci_lo,
         |         round(quantile_cont(mean, 0.975), 4) AS ci_hi
         |  FROM m GROUP BY 1
         |),
         |base AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         round(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |               / 100.0, 4) AS mean
         |  FROM ev GROUP BY 1
         |)
         |SELECT event_type, n, mean, n_reps, ci_lo, ci_hi
         |FROM base JOIN ci USING (event_type)""".stripMargin,
    // Weighted-median replay: identical (value, event_id) cumulative
    // ordering, all-long crossing test — no floats until the final 4dp.,
    "q175_mutual_info" ->
      s"""WITH $ContingencySql,
        |c AS (
        |  SELECT lang, source, n_ab,
        |         round(ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 4) AS pmi,
        |         round(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE)
        |           * ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6) AS contrib
        |  FROM e
        |)
        |SELECT lang, source, n_ab, pmi, contrib,
        |       round(sum(contrib) OVER (), 4) AS mi
        |FROM c""".stripMargin,
    // BH replay over the q19 chain: total (p, pair) rank order, the
    // same (p·m)/rank suffix-min, 4dp cap-at-1 adjustment.,
    "q178_fdr" ->
      s"""WITH RECURSIVE $BySourceSql,
         |$PeakYearPairsSql,
         |$CorrPCtesSql,
         |corr_out AS (
         |$CorrPSelectSql
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (
         |           ORDER BY p_value, datasourceIdA, datasourceIdB) AS BIGINT)
         |           AS p_rank,
         |         CAST(count(*) OVER () AS BIGINT) AS m
         |  FROM corr_out WHERE p_value IS NOT NULL
         |),
         |adj AS (
         |  SELECT *, round(least(1.0, min(p_value * m / p_rank) OVER (
         |           ORDER BY p_rank
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 4)
         |           AS p_adj
         |  FROM rk
         |)
         |SELECT datasourceIdA, datasourceIdB, n, r, p_value, p_rank, p_adj,
         |       p_adj <= 0.05 AS significant
         |FROM adj""".stripMargin,
    // χ² replay: identical cast-then-multiply E per cell, the same
    // empty-cell fold (Σ(O−E)²/E−E + n), 6dp contributions.,
    "q182_chi_square" ->
      s"""WITH $ContingencySql,
        |c AS (
        |  SELECT lang, source, n_ab, n,
        |         round((CAST(n_ab AS DOUBLE)
        |                - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (CAST(n_ab AS DOUBLE)
        |                - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |             - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |           AS contrib
        |  FROM e
        |),
        |agg AS (
        |  SELECT CAST(min(n) AS BIGINT) AS n,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS r_levels,
        |         CAST(count(DISTINCT source) AS BIGINT) AS c_levels,
        |         sum(contrib) AS sc
        |  FROM c
        |)
        |SELECT n, r_levels, c_levels,
        |       (r_levels - 1) * (c_levels - 1) AS dof,
        |       round(sc + n, 4) AS chi2,
        |       CASE WHEN (r_levels - 1) * (c_levels - 1) > 0
        |            THEN round(sqrt(round(sc + n, 4)
        |                 / (CAST(n AS DOUBLE)
        |                    * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE))), 4)
        |       END AS cramers_v
        |FROM agg""".stripMargin,
    // UCB1 replay: exact integer-cent means; ln/sqrt rounded 6dp
    // before the display rank so ranks can never flip on an ulp.,
    "q192_ks_test" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
        |         sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
        |  FROM p
        |),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM p),
        |m AS (
        |  SELECT t.n1, t.n2, CAST(max(abs(f1 * t.n2 - f2 * t.n1)) AS BIGINT) AS dn
        |  FROM c CROSS JOIN t GROUP BY t.n1, t.n2
        |),
        |s AS (
        |  SELECT n1, n2,
        |         CAST(dn AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d0
        |  FROM m
        |),
        |l AS (
        |  SELECT n1, n2, d0,
        |         d0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                   / CAST(n1 + n2 AS DOUBLE)) AS lam
        |  FROM s
        |)
        |SELECT n1, n2, round(d0, 4) AS d, round(lam, 4) AS lambda,
        |       round(least(1.0, 2.0 * exp(-2.0 * lam * lam)), 4) AS p_value
        |FROM l""".stripMargin,
    // Spearman replay: identical integer 2·avg-rank encoding, exact
    // long moment sums, one double division.,
    "q196_spearman" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE value IS NOT NULL
        |),
        |r AS (
        |  SELECT event_type,
        |         2 * rank() OVER (PARTITION BY event_type ORDER BY v)
        |           + count(*) OVER (PARTITION BY event_type, v) - 1 AS ra,
        |         2 * rank() OVER (PARTITION BY event_type ORDER BY tus)
        |           + count(*) OVER (PARTITION BY event_type, tus) - 1 AS rb
        |  FROM e
        |),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(ra) AS sa, sum(rb) AS sb,
        |         sum(CAST(ra AS HUGEINT) * CAST(ra AS HUGEINT)) AS saa,
        |         sum(CAST(rb AS HUGEINT) * CAST(rb AS HUGEINT)) AS sbb,
        |         sum(CAST(ra AS HUGEINT) * CAST(rb AS HUGEINT)) AS sab
        |  FROM r GROUP BY 1
        |)
        |SELECT event_type, n,
        |       round(CAST(n * sab - sa * sb AS DOUBLE)
        |             / NULLIF(sqrt(CAST(n * saa - sa * sa AS DOUBLE)
        |                           * CAST(n * sbb - sb * sb AS DOUBLE)), 0), 4) AS rho
        |FROM s""".stripMargin,
    // Rank-sum replay: identical 2·avg-rank integers at value grain,
    // exact 2U₁, tie sums in HUGEINT (Rollups.tieCube's decimal), same
    // double-op order for z.,
    "q199_mann_whitney" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |r AS (
        |  SELECT c1, c2, c1 + c2 AS t,
        |         $Midrank2Sql AS r2
        |  FROM p
        |),
        |s AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(c1 * r2) AS BIGINT) AS r2sum1,
        |         $TieCubeSql AS ties
        |  FROM r
        |),
        |m AS (
        |  SELECT n1, n2, r2sum1 - n1 * (n1 + 1) AS twoU1, n1 + n2 AS n, ties
        |  FROM s
        |),
        |vv AS (
        |  SELECT n1, n2, twoU1,
        |         CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |           * (CAST(n + 1 AS DOUBLE)
        |              - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS var
        |  FROM m
        |)
        |SELECT n1, n2, round(CAST(twoU1 AS DOUBLE) / 2.0, 4) AS u,
        |       round(CAST(twoU1 - n1 * n2 AS DOUBLE)
        |             / CASE WHEN var <= 0 THEN NULL ELSE 2.0 * sqrt(var) END, 4) AS z
        |FROM vv""".stripMargin,
    // Benford replay: digit from the integer-cent decimal string,
    // contributions 6dp before the 4dp χ² window.,
    "q204_corr_matrix" ->
      """WITH k AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS c1,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS c2,
        |         CAST(round(l_discount * 100) AS BIGINT) AS c3,
        |         CAST(round(l_tax * 100) AS BIGINT) AS c4
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
        |),
        |s AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(c1) AS HUGEINT) AS s1, CAST(sum(c2) AS HUGEINT) AS s2,
        |         CAST(sum(c3) AS HUGEINT) AS s3, CAST(sum(c4) AS HUGEINT) AS s4,
        |         CAST(sum(c1*c1) AS HUGEINT) AS p11, CAST(sum(c1*c2) AS HUGEINT) AS p12,
        |         CAST(sum(c1*c3) AS HUGEINT) AS p13, CAST(sum(c1*c4) AS HUGEINT) AS p14,
        |         CAST(sum(c2*c2) AS HUGEINT) AS p22, CAST(sum(c2*c3) AS HUGEINT) AS p23,
        |         CAST(sum(c2*c4) AS HUGEINT) AS p24, CAST(sum(c3*c3) AS HUGEINT) AS p33,
        |         CAST(sum(c3*c4) AS HUGEINT) AS p34, CAST(sum(c4*c4) AS HUGEINT) AS p44
        |  FROM k
        |),
        |pairs AS (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n, n*p12 - s1*s2 AS num, n*p11 - s1*s1 AS da, n*p22 - s2*s2 AS db FROM s
        |  UNION ALL SELECT 'l_quantity', 'l_discount', n, n*p13 - s1*s3, n*p11 - s1*s1, n*p33 - s3*s3 FROM s
        |  UNION ALL SELECT 'l_quantity', 'l_tax', n, n*p14 - s1*s4, n*p11 - s1*s1, n*p44 - s4*s4 FROM s
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', n, n*p23 - s2*s3, n*p22 - s2*s2, n*p33 - s3*s3 FROM s
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n, n*p24 - s2*s4, n*p22 - s2*s2, n*p44 - s4*s4 FROM s
        |  UNION ALL SELECT 'l_discount', 'l_tax', n, n*p34 - s3*s4, n*p33 - s3*s3, n*p44 - s4*s4 FROM s
        |)
        |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
        |       round(CAST(num AS DOUBLE)
        |             / NULLIF(sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE)), 0), 4) AS r
        |FROM pairs""".stripMargin,
    // ANOVA replay: same per-group exact sums, same algebraic
    // SSB/SSW identities in the same double op order.,
    "q207_anova" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)
        |                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS q
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sb,
        |         CAST(sum(s) AS BIGINT) AS S, CAST(sum(q) AS BIGINT) AS Q
        |  FROM g
        |),
        |m AS (
        |  SELECT k, n,
        |         sb - CAST(S AS DOUBLE) * CAST(S AS DOUBLE) / n AS ssb,
        |         CAST(Q AS DOUBLE) - sb AS ssw,
        |         CAST(Q AS DOUBLE) - CAST(S AS DOUBLE) * CAST(S AS DOUBLE) / n AS sst
        |  FROM t
        |)
        |SELECT k, n,
        |       round((ssb / (k - 1))
        |             / CASE WHEN ssw <= 0 OR n <= k THEN NULL
        |                    ELSE ssw / (n - k) END, 4) AS f_stat,
        |       round(ssb / CASE WHEN sst <= 0 THEN NULL ELSE sst END, 4) AS eta_sq
        |FROM m""".stripMargin,
    // Welch replay: same exact sums, same mean/variance/t/df ops.,
    "q208_welch" ->
      s"""WITH $TwoGroupMomentsSql,
        |v AS (
        |  SELECT n1, n2, s1, s2,
        |         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1,
        |         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2
        |  FROM s WHERE n1 > 1 AND n2 > 1
        |),
        |e AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM v)
        |SELECT n1, n2,
        |       round(CAST(s1 AS DOUBLE) / n1 / 100.0, 4) AS mean1,
        |       round(CAST(s2 AS DOUBLE) / n2 / 100.0, 4) AS mean2,
        |       round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |             / CASE WHEN se2 <= 0 THEN NULL ELSE sqrt(se2) END, 4) AS t,
        |       round(se2 * se2 / CASE WHEN se2 <= 0 THEN NULL
        |             ELSE (v1 / n1) * (v1 / n1) / (n1 - 1)
        |                + (v2 / n2) * (v2 / n2) / (n2 - 1) END, 4) AS df
        |FROM e""".stripMargin,
    // MDE replay: welch-shape exact sums, the same fixed z literals.,
    "q210_mde" ->
      s"""WITH $TwoGroupMomentsSql,
        |v AS (
        |  SELECT n1, n2, s1,
        |         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1,
        |         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2
        |  FROM s WHERE n1 > 1 AND n2 > 1
        |),
        |e AS (
        |  SELECT n1, n2, CAST(s1 AS DOUBLE) / n1 AS m1,
        |         sqrt(v1 / n1 + v2 / n2) AS se
        |  FROM v
        |)
        |SELECT n1, n2, round(m1 / 100.0, 4) AS mean1, round(se / 100.0, 4) AS se,
        |       round((1.959964 + 0.841621) * se / 100.0, 4) AS mde_abs,
        |       round((1.959964 + 0.841621) * se
        |             / CASE WHEN m1 = 0 THEN NULL ELSE m1 END, 4) AS mde_rel
        |FROM e""".stripMargin,
    // Diff-CI replay: the q173 Poisson draw verbatim, four exact-long
    // states per rep, percentile band over replicate diffs.,
    "q214_bootstrap_diff" ->
      s"""WITH ev AS (
         |  SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events
         |  WHERE value IS NOT NULL AND event_id IS NOT NULL
         |    AND event_type IN ('click', 'view')
         |),
         |r AS (
         |  SELECT g, cents,
         |         ${HexValSql("md5(id || ':boot:' || CAST(rep AS VARCHAR))", 1, 6)} AS b,
         |         rep
         |  FROM ev CROSS JOIN (SELECT unnest(range(0, 64)) AS rep)
         |),
         |w AS (
         |  SELECT g, rep, cents,
         |         CASE WHEN b < 6171992 THEN 0 WHEN b < 12343985 THEN 1
         |              WHEN b < 15429982 THEN 2 WHEN b < 16458647 THEN 3
         |              WHEN b < 16715813 THEN 4 WHEN b < 16767247 THEN 5
         |              WHEN b < 16775819 THEN 6 WHEN b < 16777044 THEN 7
         |              ELSE 8 END AS w
         |  FROM r
         |),
         |pr AS (
         |  SELECT rep,
         |         sum(CASE WHEN g = 'click' THEN w * cents ELSE 0 END) AS wsA,
         |         sum(CASE WHEN g = 'click' THEN w ELSE 0 END) AS wnA,
         |         sum(CASE WHEN g <> 'click' THEN w * cents ELSE 0 END) AS wsB,
         |         sum(CASE WHEN g <> 'click' THEN w ELSE 0 END) AS wnB
         |  FROM w GROUP BY 1 HAVING sum(CASE WHEN g = 'click' THEN w ELSE 0 END) > 0
         |     AND sum(CASE WHEN g <> 'click' THEN w ELSE 0 END) > 0
         |),
         |m AS (
         |  SELECT CAST(wsB AS DOUBLE) / CAST(wnB AS DOUBLE) / 100.0
         |         - CAST(wsA AS DOUBLE) / CAST(wnA AS DOUBLE) / 100.0 AS diff
         |  FROM pr
         |),
         |ci AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
         |         round(quantile_cont(diff, 0.025), 4) AS ci_lo,
         |         round(quantile_cont(diff, 0.975), 4) AS ci_hi
         |  FROM m
         |),
         |base AS (
         |  SELECT CAST(count(*) FILTER (g = 'click') AS BIGINT) AS n1,
         |         CAST(count(*) FILTER (g <> 'click') AS BIGINT) AS n2,
         |         round(CAST(sum(cents) FILTER (g <> 'click') AS DOUBLE)
         |               / count(*) FILTER (g <> 'click') / 100.0
         |             - CAST(sum(cents) FILTER (g = 'click') AS DOUBLE)
         |               / count(*) FILTER (g = 'click') / 100.0, 4) AS diff
         |  FROM ev
         |)
         |SELECT n1, n2, diff, n_reps, ci_lo, ci_hi
         |FROM base CROSS JOIN ci""".stripMargin,
    // AUC replay: the F27 integer 2·average-rank machinery, AUC =
    // 2U1 / (2·n_pos·n_neg).,
    "q218_ols2" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS s1,
        |         sum(CAST(round(l_discount * 100) AS BIGINT)) AS s2,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS s11,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS s12,
        |         sum(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS s22,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS s1y,
        |         sum(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS s2y,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL
        |),
        |d AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nn,
        |         CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
        |         CAST(sy AS DOUBLE) AS dy,
        |         CAST(s11 AS DOUBLE) AS d11, CAST(s12 AS DOUBLE) AS d12,
        |         CAST(s22 AS DOUBLE) AS d22,
        |         CAST(s1y AS DOUBLE) AS d1y, CAST(s2y AS DOUBLE) AS d2y,
        |         CAST(syy AS DOUBLE) AS dyy
        |  FROM m
        |),
        |c AS (
        |  SELECT n, nn, dy, d1y, d2y, dyy,
        |         nn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)
        |           + d2 * (d1 * d12 - d11 * d2) AS det,
        |         dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y)
        |           + d2 * (d1y * d12 - d11 * d2y) AS det0,
        |         nn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2)
        |           + d2 * (d1 * d2y - d1y * d2) AS det1,
        |         nn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2)
        |           + dy * (d1 * d12 - d11 * d2) AS det2,
        |         dyy - dy * dy / nn AS sst
        |  FROM d
        |),
        |b AS (
        |  SELECT n, dy, d1y, d2y, dyy, sst,
        |         CASE WHEN abs(det) < 1e-9 * nn THEN NULL ELSE det0 / det END AS b0,
        |         CASE WHEN abs(det) < 1e-9 * nn THEN NULL ELSE det1 / det END AS b1,
        |         CASE WHEN abs(det) < 1e-9 * nn THEN NULL ELSE det2 / det END AS b2
        |  FROM c
        |)
        |SELECT n, round(b0 / 100.0, 6) AS b0, round(b1, 6) AS b1,
        |       round(b2, 6) AS b2,
        |       round(1.0 - (dyy - b0 * dy - b1 * d1y - b2 * d2y)
        |             / CASE WHEN sst <= 0 THEN NULL ELSE sst END, 4) AS r2
        |FROM b""".stripMargin,
    // Partial-correlation replay: F29's exact HUGEINT moments, the
    // same unrounded r's feeding the partial formula.,
    "q219_partial_corr" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
        |         sum(CAST(round(l_discount * 100) AS BIGINT)) AS sz,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
        |         sum(CAST(round(l_discount * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS szz,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
        |         sum(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS sxz,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS syz
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL
        |),
        |r AS (
        |  SELECT n,
        |         CAST(n * sxy - sx * sy AS DOUBLE)
        |           / CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) = 0
        |                  THEN NULL
        |                  ELSE sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END AS rxy,
        |         CAST(n * sxz - sx * sz AS DOUBLE)
        |           / CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) = 0
        |                  THEN NULL
        |                  ELSE sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) END AS rxz,
        |         CAST(n * syz - sy * sz AS DOUBLE)
        |           / CASE WHEN sqrt(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) = 0
        |                  THEN NULL
        |                  ELSE sqrt(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) END AS ryz
        |  FROM m
        |),
        |p AS (
        |  SELECT n, rxy, rxz, ryz,
        |         sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS den
        |  FROM r
        |)
        |SELECT n, round(rxy, 4) AS r_xy, round(rxz, 4) AS r_xz,
        |       round(ryz, 4) AS r_yz,
        |       round((rxy - rxz * ryz)
        |             / CASE WHEN den = 0 THEN NULL ELSE den END, 4) AS r_partial
        |FROM p""".stripMargin,
    // Paired-uplift replay: controls collapsed to (user, ts) grain,
    // DuckDB's native ASOF backward pick, same exact cent sums.,
    "q226_paired_uplift" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |),
        |treat AS (
        |  SELECT user_id, ts, cents AS tc FROM ev
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |),
        |ctrl AS (
        |  SELECT user_id, ts, max(cents) AS cc FROM ev
        |  WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT t.tc, c.cc
        |  FROM treat t ASOF LEFT JOIN ctrl c
        |    ON t.user_id = c.user_id AND t.ts >= c.ts
        |),
        |s AS (
        |  SELECT CAST(count(cc) AS BIGINT) AS n_pairs,
        |         CAST(count(*) FILTER (cc IS NULL) AS BIGINT) AS n_unmatched,
        |         CAST(sum(CAST(tc - cc AS HUGEINT)) AS HUGEINT) AS s,
        |         CAST(sum(CAST(tc - cc AS HUGEINT) * CAST(tc - cc AS HUGEINT)) AS HUGEINT) AS q
        |  FROM m
        |),
        |v AS (
        |  SELECT n_pairs, n_unmatched, s,
        |         (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_pairs)
        |           / (n_pairs - 1) AS var
        |  FROM s WHERE n_pairs > 1
        |)
        |SELECT n_pairs, n_unmatched,
        |       round(CAST(s AS DOUBLE) / n_pairs / 100.0, 4) AS mean_diff,
        |       round((CAST(s AS DOUBLE) / n_pairs)
        |             / CASE WHEN var <= 0 THEN NULL
        |                    ELSE sqrt(var / n_pairs) END, 4) AS t
        |FROM v""".stripMargin,
    // ECE replay: q183's quality + Gopher pass, exact 1e-4 confidence
    // units, 6dp contributions, 4dp bin-table total.,
    "q233_srm" ->
      """WITH a AS (
        |  SELECT CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (user_id % 2 <> 0) AS BIGINT) AS n_b
        |  FROM events
        |),
        |e AS (
        |  SELECT n_a, n_b,
        |         CAST(n_a + n_b AS DOUBLE) * 0.5 AS ea,
        |         CAST(n_a + n_b AS DOUBLE) * 0.5 AS eb
        |  FROM a WHERE n_a + n_b > 0
        |),
        |c AS (
        |  SELECT n_a, n_b,
        |         round((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea
        |               + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb, 4) AS chi2
        |  FROM e
        |)
        |SELECT n_a, n_b,
        |       round(CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 4) AS ratio,
        |       chi2, chi2 > 3.8415 AS srm
        |FROM c""".stripMargin,
    // Lift-curve replay: q227's quality/pass inputs, I25's 4dp decile
    // boundaries, cumulative windows from the TOP bin down.,
    "q244_cuped" ->
      s"""WITH f AS (
        |  SELECT user_id, $DaySql AS d,
        |         COALESCE(CAST(round(value * 100) AS BIGINT), 0) AS c
        |  FROM events
        |),
        |a0 AS (SELECT max(d) - 6 AS cut FROM f),
        |u AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN d < cut THEN c ELSE 0 END) AS BIGINT) AS xx,
        |         CAST(sum(CASE WHEN d >= cut THEN c ELSE 0 END) AS BIGINT) AS yy
        |  FROM f CROSS JOIN a0 GROUP BY 1
        |),
        |r AS (
        |  SELECT CASE WHEN user_id % 2 <> 0 THEN 'B' ELSE 'A' END AS arm, xx, yy
        |  FROM u
        |),
        |m AS (
        |  SELECT
        |    CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
        |    sum(yy) FILTER (arm = 'A') AS sy_a, sum(xx) FILTER (arm = 'A') AS sx_a,
        |    sum(CAST(yy AS HUGEINT) * yy) FILTER (arm = 'A') AS syy_a,
        |    sum(CAST(xx AS HUGEINT) * xx) FILTER (arm = 'A') AS sxx_a,
        |    sum(CAST(xx AS HUGEINT) * yy) FILTER (arm = 'A') AS sxy_a,
        |    sum(yy) FILTER (arm = 'B') AS sy_b, sum(xx) FILTER (arm = 'B') AS sx_b,
        |    sum(CAST(yy AS HUGEINT) * yy) FILTER (arm = 'B') AS syy_b,
        |    sum(CAST(xx AS HUGEINT) * xx) FILTER (arm = 'B') AS sxx_b,
        |    sum(CAST(xx AS HUGEINT) * yy) FILTER (arm = 'B') AS sxy_b
        |  FROM r
        |),
        |c1 AS (
        |  SELECT *, n_a + n_b AS nn,
        |         CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sx,
        |         CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS sy,
        |         CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE) AS sxx,
        |         CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE) AS sxy,
        |         CAST(syy_a AS DOUBLE) + CAST(syy_b AS DOUBLE) AS syy
        |  FROM m WHERE n_a > 1 AND n_b > 1
        |),
        |c2 AS (SELECT *, sxx - sx * sx / nn AS varx, sxy - sx * sy / nn AS covxy FROM c1),
        |c3 AS (
        |  SELECT *, CASE WHEN varx = 0 THEN 0.0 ELSE covxy / varx END AS theta,
        |         sx / nn AS xbar
        |  FROM c2
        |),
        |c4 AS (
        |  SELECT *,
        |         CAST(sy_a AS DOUBLE) / n_a AS mya, CAST(sx_a AS DOUBLE) / n_a AS mxa,
        |         CAST(sy_b AS DOUBLE) / n_b AS myb, CAST(sx_b AS DOUBLE) / n_b AS mxb
        |  FROM c3
        |),
        |c5 AS (
        |  SELECT *,
        |         mya - theta * (mxa - xbar) AS adja, myb - theta * (mxb - xbar) AS adjb,
        |         (CAST(syy_a AS DOUBLE) - n_a * mya * mya) / (n_a - 1) AS vrawa,
        |         (CAST(syy_b AS DOUBLE) - n_b * myb * myb) / (n_b - 1) AS vrawb,
        |         (CAST(syy_a AS DOUBLE) - 2.0 * theta * CAST(sxy_a AS DOUBLE)
        |          + theta * theta * CAST(sxx_a AS DOUBLE)
        |          - n_a * (mya - theta * mxa) * (mya - theta * mxa)) / (n_a - 1) AS vadja,
        |         (CAST(syy_b AS DOUBLE) - 2.0 * theta * CAST(sxy_b AS DOUBLE)
        |          + theta * theta * CAST(sxx_b AS DOUBLE)
        |          - n_b * (myb - theta * mxb) * (myb - theta * mxb)) / (n_b - 1) AS vadjb
        |  FROM c4
        |),
        |c6 AS (
        |  SELECT *, sqrt(vrawa / n_a + vrawb / n_b) AS seraw,
        |         sqrt(vadja / n_a + vadjb / n_b) AS seadj,
        |         (syy - sy * sy / nn) / (nn - 1) AS vpoolraw,
        |         (syy - 2.0 * theta * sxy + theta * theta * sxx
        |          - (sy - theta * sx) * (sy - theta * sx) / nn) / (nn - 1) AS vpooladj
        |  FROM c5
        |)
        |SELECT n_a, n_b, round(theta, 6) AS theta,
        |       round((myb - mya) / 100.0, 4) AS diff_raw,
        |       round((adjb - adja) / 100.0, 4) AS diff_adj,
        |       round((myb - mya)
        |             / CASE WHEN seraw <= 0 THEN NULL ELSE seraw END, 4) AS t_raw,
        |       round((adjb - adja)
        |             / CASE WHEN seadj <= 0 THEN NULL ELSE seadj END, 4) AS t_adj,
        |       round(1.0 - vpooladj
        |             / CASE WHEN vpoolraw <= 0 THEN NULL ELSE vpoolraw END, 4)
        |         AS var_reduction
        |FROM c6""".stripMargin,
    // Ratio-delta replay: same user-grain counts, same delta-method
    // variance expansion.,
    "q245_ratio_delta" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS x,
        |         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |),
        |r AS (
        |  SELECT CASE WHEN user_id % 2 <> 0 THEN 'B' ELSE 'A' END AS arm, x, y
        |  FROM u
        |),
        |m AS (
        |  SELECT
        |    CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
        |    sum(x) FILTER (arm = 'A') AS sx_a, sum(y) FILTER (arm = 'A') AS sy_a,
        |    sum(CAST(x AS HUGEINT) * x) FILTER (arm = 'A') AS sxx_a,
        |    sum(CAST(y AS HUGEINT) * y) FILTER (arm = 'A') AS syy_a,
        |    sum(CAST(x AS HUGEINT) * y) FILTER (arm = 'A') AS sxy_a,
        |    sum(x) FILTER (arm = 'B') AS sx_b, sum(y) FILTER (arm = 'B') AS sy_b,
        |    sum(CAST(x AS HUGEINT) * x) FILTER (arm = 'B') AS sxx_b,
        |    sum(CAST(y AS HUGEINT) * y) FILTER (arm = 'B') AS syy_b,
        |    sum(CAST(x AS HUGEINT) * y) FILTER (arm = 'B') AS sxy_b
        |  FROM r
        |),
        |k AS (SELECT * FROM m WHERE n_a > 1 AND n_b > 1 AND sy_a > 0 AND sy_b > 0),
        |c AS (
        |  SELECT n_a, n_b,
        |    CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE) AS ra,
        |    CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE) AS rb,
        |    (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1) AS vxa,
        |    (CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE) / n_a) / (n_a - 1) AS vya,
        |    (CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sy_a AS DOUBLE) / n_a) / (n_a - 1) AS ca,
        |    CAST(sy_a AS DOUBLE) / n_a AS yba,
        |    (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1) AS vxb,
        |    (CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE) / n_b) / (n_b - 1) AS vyb,
        |    (CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sy_b AS DOUBLE) / n_b) / (n_b - 1) AS cb,
        |    CAST(sy_b AS DOUBLE) / n_b AS ybb
        |  FROM k
        |),
        |e AS (
        |  SELECT *,
        |    (vxa + ra * ra * vya - 2.0 * ra * ca) / (n_a * yba * yba) AS sea2,
        |    (vxb + rb * rb * vyb - 2.0 * rb * cb) / (n_b * ybb * ybb) AS seb2
        |  FROM c
        |)
        |SELECT n_a, n_b, round(ra, 4) AS ratio_a, round(rb, 4) AS ratio_b,
        |       round(rb - ra, 4) AS diff,
        |       round((rb - ra)
        |             / CASE WHEN sea2 + seb2 <= 0 THEN NULL
        |                    ELSE sqrt(sea2 + seb2) END, 4) AS z
        |FROM e""".stripMargin,
    // Heterogeneity replay: per-segment F31 moments, 6dp Q
    // contributions, segment-table windows.,
    "q255_heterogeneity" ->
      """WITH seg AS (
        |  SELECT event_type AS segment,
        |         CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_a,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT)) FILTER (user_id % 2 = 0) AS HUGEINT) AS sa,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT) * CAST(round(value * 100) AS HUGEINT))
        |              FILTER (user_id % 2 = 0) AS HUGEINT) AS qa,
        |         CAST(count(*) FILTER (user_id % 2 <> 0) AS BIGINT) AS n_b,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT)) FILTER (user_id % 2 <> 0) AS HUGEINT) AS sb,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT) * CAST(round(value * 100) AS HUGEINT))
        |              FILTER (user_id % 2 <> 0) AS HUGEINT) AS qb
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1
        |),
        |v AS (
        |  SELECT segment, n_a, n_b,
        |         (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n_a) / (n_a - 1) AS va,
        |         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n_b) / (n_b - 1) AS vb,
        |         CAST(sb AS DOUBLE) / n_b - CAST(sa AS DOUBLE) / n_a AS dd
        |  FROM seg WHERE n_a > 1 AND n_b > 1
        |),
        |e AS (
        |  SELECT *, va / n_a + vb / n_b AS se2 FROM v
        |),
        |w AS (
        |  SELECT *, 1.0 / se2 AS w FROM e WHERE se2 > 0
        |),
        |dw AS (
        |  SELECT *, sum(w * dd) OVER () / sum(w) OVER () AS dwbar FROM w
        |),
        |qq AS (
        |  SELECT *, round(w * (dd - dwbar) * (dd - dwbar), 6) AS q_contrib FROM dw
        |),
        |t AS (
        |  SELECT *, round(sum(q_contrib) OVER (), 4) AS q_stat,
        |         count(*) OVER () AS k
        |  FROM qq
        |)
        |SELECT segment, n_a, n_b,
        |       round(dd / 100.0, 4) AS diff, round(sqrt(se2) / 100.0, 4) AS se,
        |       q_contrib, q_stat,
        |       round(greatest(0.0, (q_stat - (k - 1))
        |             / CASE WHEN q_stat <= 0 THEN NULL ELSE q_stat END), 4) AS i2
        |FROM t""".stripMargin,
    // Permutation replay: the same md5 24-bit coin per (row, rep),
    // exact per-rep sums, 6dp diff compare, add-one p.,
    "q256_permutation" ->
      s"""WITH rows_p AS (
         |  SELECT event_type = 'view' AS b, CAST(round(value * 100) AS BIGINT) AS c,
         |         CAST(event_id AS VARCHAR) AS id
         |  FROM events
         |  WHERE value IS NOT NULL AND event_id IS NOT NULL
         |    AND event_type IN ('click', 'view')
         |),
         |obs AS (
         |  SELECT CAST(count(*) FILTER (NOT b) AS BIGINT) AS n_a,
         |         CAST(count(*) FILTER (b) AS BIGINT) AS n_b,
         |         round(CAST(sum(c) FILTER (b) AS DOUBLE) / count(*) FILTER (b)
         |               - CAST(sum(c) FILTER (NOT b) AS DOUBLE) / count(*) FILTER (NOT b), 6) AS obs
         |  FROM rows_p HAVING n_a > 0 AND n_b > 0
         |),
         |r AS (
         |  SELECT c, rep,
         |         ${HexValSql("md5(id || ':perm:' || CAST(rep AS VARCHAR))", 1, 6)} < 8388608 AS pa
         |  FROM rows_p CROSS JOIN (SELECT unnest(range(0, 64)) AS rep)
         |),
         |pd AS (
         |  SELECT round(CAST(sum(c) FILTER (NOT pa) AS DOUBLE) / count(*) FILTER (NOT pa)
         |               - CAST(sum(c) FILTER (pa) AS DOUBLE) / count(*) FILTER (pa), 6) AS d
         |  FROM r GROUP BY rep
         |  HAVING count(*) FILTER (pa) > 0 AND count(*) FILTER (NOT pa) > 0
         |),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
         |         CAST(count(*) FILTER (abs(pd.d) >= abs(obs.obs)) AS BIGINT) AS ge
         |  FROM pd CROSS JOIN obs
         |)
         |SELECT obs.n_a, obs.n_b, round(obs.obs / 100.0, 4) AS diff, t.n_reps,
         |       round(CAST(1 + t.ge AS DOUBLE) / (t.n_reps + 1), 4) AS p_value
         |FROM obs CROSS JOIN t""".stripMargin,
    // Yuen replay: per-arm 4dp-published trim thresholds, the pinned
    // lo < c < hi trim rule and clamp moments.,
    "q257_yuen" ->
      """WITH rows_y AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        |),
        |th AS (
        |  SELECT g, round(quantile_cont(c, 0.2), 4) AS lo,
        |         round(quantile_cont(c, 0.8), 4) AS hi
        |  FROM rows_y GROUP BY 1
        |),
        |j AS (
        |  SELECT r.g, CAST(r.c AS DOUBLE) AS cd, th.lo, th.hi,
        |         least(greatest(CAST(r.c AS DOUBLE), th.lo), th.hi) AS w
        |  FROM rows_y r JOIN th USING (g)
        |),
        |m AS (
        |  SELECT
        |    CAST(count(*) FILTER (g = 'click') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (g = 'click' AND cd > lo AND cd < hi) AS BIGINT) AS h_a,
        |    CAST(sum(CAST(cd AS BIGINT)) FILTER (g = 'click' AND cd > lo AND cd < hi) AS BIGINT) AS ts_a,
        |    sum(w) FILTER (g = 'click') AS ws_a,
        |    sum(w * w) FILTER (g = 'click') AS wq_a,
        |    CAST(count(*) FILTER (g = 'view') AS BIGINT) AS n_b,
        |    CAST(count(*) FILTER (g = 'view' AND cd > lo AND cd < hi) AS BIGINT) AS h_b,
        |    CAST(sum(CAST(cd AS BIGINT)) FILTER (g = 'view' AND cd > lo AND cd < hi) AS BIGINT) AS ts_b,
        |    sum(w) FILTER (g = 'view') AS ws_b,
        |    sum(w * w) FILTER (g = 'view') AS wq_b
        |  FROM j
        |),
        |k AS (SELECT * FROM m WHERE h_a > 1 AND h_b > 1),
        |e AS (
        |  SELECT *,
        |    (CAST(n_a AS DOUBLE) - 1) * ((wq_a - ws_a * ws_a / CAST(n_a AS DOUBLE)) / (n_a - 1))
        |      / (CAST(h_a AS DOUBLE) * (CAST(h_a AS DOUBLE) - 1)) AS sea2,
        |    (CAST(n_b AS DOUBLE) - 1) * ((wq_b - ws_b * ws_b / CAST(n_b AS DOUBLE)) / (n_b - 1))
        |      / (CAST(h_b AS DOUBLE) * (CAST(h_b AS DOUBLE) - 1)) AS seb2,
        |    CAST(ts_a AS DOUBLE) / h_a AS tma, CAST(ts_b AS DOUBLE) / h_b AS tmb
        |  FROM k
        |)
        |SELECT h_a, h_b,
        |       round(tma / 100.0, 4) AS tmean_a, round(tmb / 100.0, 4) AS tmean_b,
        |       round((tmb - tma)
        |             / CASE WHEN sea2 + seb2 <= 0 THEN NULL ELSE sqrt(sea2 + seb2) END, 4) AS t,
        |       round((sea2 + seb2) * (sea2 + seb2)
        |             / CASE WHEN sea2 + seb2 <= 0 THEN NULL
        |                    ELSE sea2 * sea2 / (h_a - 1) + seb2 * seb2 / (h_b - 1) END, 4) AS df
        |FROM e""".stripMargin,
    // ROC replay: q238's binning, cumulative TPR/FPR from the top bin.,
    "q275_msprt" ->
      s"""WITH e AS (
        |  SELECT $DaySql AS day,
        |         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |         CAST(round(value * 100) AS HUGEINT) AS c
        |  FROM events WHERE value IS NOT NULL
        |),
        |bd AS (
        |  SELECT day,
        |         CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS na,
        |         CAST(coalesce(sum(c) FILTER (arm = 'A'), 0) AS HUGEINT) AS sa,
        |         CAST(coalesce(sum(c * c) FILTER (arm = 'A'), 0) AS HUGEINT) AS qa,
        |         CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS nb,
        |         CAST(coalesce(sum(c) FILTER (arm = 'B'), 0) AS HUGEINT) AS sb,
        |         CAST(coalesce(sum(c * c) FILTER (arm = 'B'), 0) AS HUGEINT) AS qb
        |  FROM e GROUP BY 1
        |),
        |cu AS (
        |  SELECT day,
        |         CAST(sum(na) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(nb) OVER w AS BIGINT) AS n_b,
        |         CAST(sum(sa) OVER w AS HUGEINT) AS csa,
        |         CAST(sum(qa) OVER w AS HUGEINT) AS cqa,
        |         CAST(sum(sb) OVER w AS HUGEINT) AS csb,
        |         CAST(sum(qb) OVER w AS HUGEINT) AS cqb
        |  FROM bd
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |),
        |m AS (
        |  SELECT day, n_a, n_b,
        |         CAST(csa AS DOUBLE) / n_a / 100.0 AS ma,
        |         CAST(csb AS DOUBLE) / n_b / 100.0 AS mb,
        |         CAST(cqa AS DOUBLE) / 10000.0 AS dqa,
        |         CAST(cqb AS DOUBLE) / 10000.0 AS dqb
        |  FROM cu WHERE n_a > 1 AND n_b > 1
        |),
        |v AS (
        |  SELECT day, n_a, n_b, ma, mb,
        |         ((dqa - n_a * ma * ma) + (dqb - n_b * mb * mb))
        |           / (n_a + n_b - 2) AS var
        |  FROM m
        |),
        |l AS (
        |  SELECT day, n_a, n_b, mb - ma AS d,
        |         var * (1.0 / n_a + 1.0 / n_b) AS s2d
        |  FROM v WHERE var > 0
        |),
        |pp AS (
        |  SELECT day, n_a, n_b, d,
        |         least(1.0, 1.0 / (sqrt(s2d / (s2d + 1.0))
        |           * exp(d * d * 1.0 / (2.0 * s2d * (s2d + 1.0))))) AS p1
        |  FROM l
        |),
        |fin AS (
        |  SELECT day, n_a, n_b, round(d, 4) AS diff,
        |         round(min(p1) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS p_avl
        |  FROM pp
        |)
        |SELECT CAST(day AS BIGINT) AS day, n_a, n_b, diff, p_avl,
        |       p_avl <= 0.05 AS signif
        |FROM fin""".stripMargin,
    // Sequential-SRM replay: same cumulative day counts, null
    // variance p0(1-p0)/N, written-order Lambda, rounded running min.,
    "q284_msprt_srm" ->
      s"""WITH e AS (
        |  SELECT $DaySql AS day,
        |         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
        |  FROM events WHERE user_id IS NOT NULL
        |),
        |bd AS (
        |  SELECT day, CAST(sum(a) AS BIGINT) AS na, CAST(count(*) AS BIGINT) AS nn
        |  FROM e GROUP BY 1
        |),
        |cu AS (
        |  SELECT day,
        |         CAST(sum(na) OVER w AS BIGINT) AS n_a,
        |         CAST(sum(nn) OVER w AS BIGINT) AS n
        |  FROM bd
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |),
        |l AS (
        |  SELECT day, n_a, n,
        |         CAST(n_a AS DOUBLE) / n - 0.5 AS d,
        |         0.25 / n AS s2
        |  FROM cu WHERE n > 0
        |),
        |pp AS (
        |  SELECT day, n_a, n, d,
        |         least(1.0, 1.0 / (sqrt(s2 / (s2 + 0.0001))
        |           * exp(d * d * 0.0001 / (2.0 * s2 * (s2 + 0.0001))))) AS p1
        |  FROM l
        |),
        |fin AS (
        |  SELECT day, n_a, n,
        |         round(CAST(n_a AS DOUBLE) / n, 4) AS ratio,
        |         round(min(p1) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS p_avl
        |  FROM pp
        |)
        |SELECT CAST(day AS BIGINT) AS day, n_a, n, ratio, p_avl,
        |       p_avl <= 0.05 AS srm
        |FROM fin""".stripMargin,
    // Shrinkage replay: 1e-6 rate quantization, HUGEINT rate
    // squares, method-of-moments prior, written-order doubles.,
    "q286_eb_shrink" ->
      """WITH k AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL
        |  GROUP BY 1
        |),
        |r AS (
        |  SELECT user_id, n, x,
        |         CAST(round(CAST(x AS DOUBLE) / n * 1e6) AS BIGINT) AS ru
        |  FROM k
        |),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS kk,
        |         CAST(sum(ru) AS BIGINT) AS sr,
        |         CAST(sum(CAST(ru AS HUGEINT) * CAST(ru AS HUGEINT)) AS HUGEINT) AS qr
        |  FROM r
        |),
        |p AS (
        |  SELECT r.*, CAST(m.sr AS DOUBLE) / m.kk / 1e6 AS mm,
        |         CASE WHEN m.kk > 1
        |              THEN (CAST(m.qr AS DOUBLE) / 1e12
        |                    - m.kk * (CAST(m.sr AS DOUBLE) / m.kk / 1e6)
        |                           * (CAST(m.sr AS DOUBLE) / m.kk / 1e6))
        |                   / (m.kk - 1)
        |              ELSE 0.0 END AS vv
        |  FROM r CROSS JOIN m
        |),
        |a AS (
        |  SELECT *, CASE WHEN vv > 0 THEN mm * (1.0 - mm) / vv - 1.0
        |                 ELSE 0.0 END AS ab
        |  FROM p
        |)
        |SELECT user_id, n, x,
        |       round(CAST(x AS DOUBLE) / n, 4) AS rate,
        |       CASE WHEN ab > 0
        |            THEN round((CAST(x AS DOUBLE) + mm * ab) / (CAST(n AS DOUBLE) + ab), 4)
        |            ELSE round(mm, 4) END AS shrunk
        |FROM a""".stripMargin,
    // Tukey replay: HUGEINT cent moments, ANOVA MSW, group-dim pair
    // cross, written-order doubles, 4dp.,
    "q287_tukey" ->
      """WITH g AS (
        |  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS s,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT)
        |                  * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS q
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1 HAVING count(*) >= 2
        |),
        |w AS (
        |  SELECT g, n, s,
        |         CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssw
        |  FROM g
        |),
        |m AS (
        |  SELECT sum(ssw) / (sum(n) - count(*)) AS msw
        |  FROM w HAVING sum(n) > count(*)
        |)
        |SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
        |       round(CAST(b.s AS DOUBLE) / b.n / 100.0
        |             - CAST(a.s AS DOUBLE) / a.n / 100.0, 4) AS diff,
        |       round(abs(CAST(b.s AS DOUBLE) / b.n / 100.0
        |                 - CAST(a.s AS DOUBLE) / a.n / 100.0)
        |             / sqrt(m.msw / 10000.0 / 2.0 * (1.0 / a.n + 1.0 / b.n)), 4) AS q_stat
        |FROM w a JOIN w b ON a.g < b.g CROSS JOIN m""".stripMargin,
    // Kendall τ-b replay: same dense-calendar spine as q190, pure
    // integer comparisons per pair (no sign products), one double
    // division at the end.,
    "q291_kendall_tau" ->
      s"""WITH d AS (
        |  SELECT $DaySql AS day,
        |         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS na,
        |         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS nb
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
        |),
        |cal AS (
        |  SELECT unnest(range((SELECT min(day) FROM d),
        |                      (SELECT max(day) FROM d) + 1)) AS day
        |),
        |dense AS (
        |  SELECT c.day, coalesce(d.na, 0) AS a, coalesce(d.nb, 0) AS b
        |  FROM cal c LEFT JOIN d USING (day)
        |),
        |p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(count(*) FILTER ((x.a < y.a AND x.b < y.b)
        |                            OR (x.a > y.a AND x.b > y.b)) AS BIGINT) AS concordant,
        |         CAST(count(*) FILTER ((x.a < y.a AND x.b > y.b)
        |                            OR (x.a > y.a AND x.b < y.b)) AS BIGINT) AS discordant,
        |         CAST(count(*) FILTER (x.a = y.a) AS BIGINT) AS ties_x,
        |         CAST(count(*) FILTER (x.b = y.b) AS BIGINT) AS ties_y
        |  FROM dense x JOIN dense y ON x.day < y.day
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM dense) AS n_days,
        |       n_pairs, concordant, discordant, ties_x, ties_y,
        |       round(CAST(concordant - discordant AS DOUBLE) /
        |             CASE WHEN n_pairs - ties_x <= 0 OR n_pairs - ties_y <= 0 THEN NULL
        |                  ELSE sqrt(CAST(n_pairs - ties_x AS DOUBLE)
        |                            * CAST(n_pairs - ties_y AS DOUBLE)) END, 4) AS tau_b
        |FROM p""".stripMargin,
    // Kruskal–Wallis replay: integer 2·rank via the value-grain
    // cumulative (the mannWhitney convention), HUGEINT rank sums and
    // tie cubes, anovaF-style written-order doubles, 4dp.,
    "q292_kruskal_wallis" ->
      s"""WITH $PooledMidranksSql,
        |perg AS (
        |  SELECT g, CAST(sum(n) AS BIGINT) AS ng,
        |         CAST(sum(CAST(n AS HUGEINT) * r2) AS HUGEINT) AS s2
        |  FROM pts JOIN vr USING (v) GROUP BY 1
        |),
        |tie AS (
        |  SELECT coalesce(CAST($TieCubeSql AS HUGEINT),
        |                  0) AS tie3
        |  FROM vg
        |),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |         sum(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / 4.0 / ng) AS rr
        |  FROM perg
        |)
        |SELECT k, n,
        |       round(12.0 * rr / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |             - 3.0 * CAST(n + 1 AS DOUBLE), 4) AS h,
        |       round((12.0 * rr / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |              - 3.0 * CAST(n + 1 AS DOUBLE)) /
        |             (CASE WHEN 1.0 - CAST(tie3 AS DOUBLE)
        |                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) <= 0
        |                   THEN NULL
        |                   ELSE 1.0 - CAST(tie3 AS DOUBLE)
        |                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                             * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) END),
        |             4) AS h_adj
        |FROM a, tie""".stripMargin,
    // JT replay: value-grain conditional counts, one cumulative
    // window for the 5 CDFs, the 10 ordered-pair cross terms in the
    // identical (i<j) order, HUGEINT doubled statistic, no-tie null
    // moments in exact-integer-valued doubles.,
    "q330_jonckheere" -> {
      val gs = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")
      val cdefs = gs.zipWithIndex.map { case (g, i) =>
        s"CAST(count(*) FILTER (g = '$g') AS BIGINT) AS c${i + 1}"
      }.mkString(",\n         ")
      val fdefs = (1 to 5).map(i =>
        s"CAST(sum(c$i) OVER w AS BIGINT) AS f$i").mkString(",\n         ")
      val ndefs = (1 to 5).map(i =>
        s"CAST(sum(c$i) AS BIGINT) AS n$i").mkString(", ")
      val pairTerms = (for { i <- 1 to 5; j <- (i + 1) to 5 } yield
        s"CAST(c$i AS HUGEINT) * (n$j - f$j) * 2 + CAST(c$i AS HUGEINT) * c$j")
        .mkString("\n           + ")
      val nAll = (1 to 5).map(i => s"n$i").mkString(" + ")
      val sqAll = (1 to 5).map(i => s"CAST(n$i AS HUGEINT) * n$i")
        .mkString(" + ")
      val varAll = (1 to 5).map(i =>
        s"CAST(n$i AS DOUBLE) * CAST(n$i AS DOUBLE) * (2.0 * CAST(n$i AS DOUBLE) + 3)")
        .mkString("\n             + ")
      s"""WITH v AS (
         |  SELECT o_orderpriority AS g,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders WHERE o_totalprice IS NOT NULL
         |),
         |h AS (
         |  SELECT v,
         |         $cdefs
         |  FROM v GROUP BY 1
         |),
         |f AS (
         |  SELECT *,
         |         $fdefs
         |  FROM h WINDOW w AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |t AS (SELECT $ndefs FROM h),
         |s AS (
         |  SELECT n1, n2, n3, n4, n5,
         |         sum($pairTerms) AS jt2
         |  FROM f CROSS JOIN t
         |  GROUP BY 1, 2, 3, 4, 5
         |)
         |SELECT CAST($nAll AS BIGINT) AS n,
         |       round(CAST(jt2 AS DOUBLE) / 2, 1) AS jt,
         |       round((CAST(jt2 AS DOUBLE)
         |              - CAST(CAST($nAll AS HUGEINT) * ($nAll)
         |                     - ($sqAll) AS DOUBLE) / 2) / 2
         |             / sqrt((CAST($nAll AS DOUBLE) * CAST($nAll AS DOUBLE)
         |                       * (2.0 * CAST($nAll AS DOUBLE) + 3)
         |                     - ($varAll)) / 72.0), 4) AS z
         |FROM s""".stripMargin
    },
    // CA replay: same integer scores, HUGEINT moments, the identical
    // multiplied-through variance written form.,
    "q331_cochran_armitage" ->
      """WITH g AS (
        |  SELECT CASE o_orderpriority
        |           WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
        |           WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
        |           WHEN '5-LOW' THEN 5 END AS w,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS r
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
        |                            '4-NOT SPECIFIED', '5-LOW')
        |  GROUP BY 1
        |),
        |a AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n,
        |         CAST(sum(r) AS BIGINT) AS successes,
        |         sum(CAST(w AS HUGEINT) * n) AS wn,
        |         sum(CAST(w AS HUGEINT) * w * n) AS wwn,
        |         sum(CAST(w AS HUGEINT) * r) AS wr
        |  FROM g
        |),
        |v AS (
        |  SELECT *,
        |         CAST(successes AS DOUBLE)
        |           * (CAST(n AS DOUBLE) - CAST(successes AS DOUBLE))
        |           * (CAST(n AS DOUBLE) * CAST(wwn AS DOUBLE)
        |              - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE))
        |           / CAST(n AS DOUBLE) AS var
        |  FROM a
        |)
        |SELECT n, successes,
        |       CASE WHEN var > 0
        |         THEN round(CAST(wr * n - wn * successes AS DOUBLE)
        |                    / sqrt(var), 4) END AS z
        |FROM v""".stripMargin,
    // Mann–Kendall replay: same yearly series as q195, in-list sign
    // pairs (exact integers), tie rollup from the same series, the
    // continuity-corrected z as one written-order double, 4dp.,
    "q293_mann_kendall" ->
      s"""WITH s AS (
        |$EvidenceYearCountsSql
        |),
        |arr AS (
        |  SELECT datasourceId,
        |         list(struct_pack(x := x, y := y) ORDER BY x) AS a,
        |         CAST(count(*) AS BIGINT) AS n_points
        |  FROM s GROUP BY 1
        |),
        |st AS (
        |  SELECT datasourceId, n_points,
        |         CAST(coalesce(list_sum(flatten(
        |           list_transform(range(1, CAST(n_points AS INT) + 1), i ->
        |             list_transform(range(i + 1, CAST(n_points AS INT) + 1), j ->
        |               CAST(sign(a[j].y - a[i].y) AS BIGINT))))), 0) AS BIGINT)
        |           AS s_stat
        |  FROM arr
        |),
        |t AS (
        |  SELECT datasourceId,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT datasourceId, y, CAST(count(*) AS BIGINT) AS t
        |        FROM s GROUP BY 1, 2)
        |  GROUP BY 1
        |),
        |v AS (
        |  SELECT st.datasourceId, st.n_points, st.s_stat,
        |         CAST(st.n_points * (st.n_points - 1) * (2 * st.n_points + 5)
        |              - t.tsum AS DOUBLE) / 18.0 AS var_d
        |  FROM st JOIN t USING (datasourceId)
        |)
        |SELECT datasourceId, n_points, s_stat,
        |       round(var_d, 4) AS var_s,
        |       round(CASE WHEN var_d <= 0 THEN NULL
        |                  ELSE (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |                             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |                             ELSE 0.0 END) / sqrt(var_d) END, 4) AS z
        |FROM v""".stripMargin,
    // odds-ratio replay: four exact cells, double products, Woolf
    // log-CI in written order.,
    "q313_odds_ratio" ->
      """WITH g AS (
        |  SELECT
        |    CAST(count(*) FILTER (user_id % 2 = 0 AND event_type = 'purchase')
        |         AS BIGINT) AS n_a_succ,
        |    CAST(count(*) FILTER (user_id % 2 = 0 AND event_type <> 'purchase')
        |         AS BIGINT) AS n_a_fail,
        |    CAST(count(*) FILTER (user_id % 2 <> 0 AND event_type = 'purchase')
        |         AS BIGINT) AS n_b_succ,
        |    CAST(count(*) FILTER (user_id % 2 <> 0 AND event_type <> 'purchase')
        |         AS BIGINT) AS n_b_fail
        |  FROM events WHERE user_id IS NOT NULL
        |),
        |o AS (
        |  SELECT n_a_succ, n_a_fail, n_b_succ, n_b_fail,
        |    CASE WHEN n_a_succ = 0 OR n_a_fail = 0 OR n_b_succ = 0 OR n_b_fail = 0
        |         THEN NULL
        |         ELSE CAST(n_a_succ AS DOUBLE) * CAST(n_b_fail AS DOUBLE)
        |              / (CAST(n_a_fail AS DOUBLE) * CAST(n_b_succ AS DOUBLE)) END
        |      AS orr,
        |    sqrt(1.0 / n_a_succ + 1.0 / n_a_fail
        |         + 1.0 / n_b_succ + 1.0 / n_b_fail) AS se
        |  FROM g
        |)
        |SELECT n_a_succ, n_a_fail, n_b_succ, n_b_fail,
        |       round(orr, 4) AS odds_ratio,
        |       round(exp(ln(orr) - 1.959963984540054 * se), 4) AS ci_lo,
        |       round(exp(ln(orr) + 1.959963984540054 * se), 4) AS ci_hi
        |FROM o""".stripMargin,
    // key-skew replay: the q217 Gini pipeline over per-key counts,
    // plus max-count share.,
    "q311_newcombe" ->
      """WITH g AS (
        |  SELECT
        |    CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n1,
        |    CAST(count(*) FILTER (user_id % 2 = 0 AND event_type = 'purchase')
        |         AS BIGINT) AS x1,
        |    CAST(count(*) FILTER (user_id % 2 <> 0) AS BIGINT) AS n2,
        |    CAST(count(*) FILTER (user_id % 2 <> 0 AND event_type = 'purchase')
        |         AS BIGINT) AS x2
        |  FROM events WHERE user_id IS NOT NULL
        |),
        |w AS (
        |  SELECT n1, x1, n2, x2,
        |    CAST(x1 AS DOUBLE) / n1 AS p1, CAST(x2 AS DOUBLE) / n2 AS p2,
        |    1.0 + 1.959963984540054 * 1.959963984540054 / n1 AS d1,
        |    1.0 + 1.959963984540054 * 1.959963984540054 / n2 AS d2
        |  FROM g WHERE n1 > 0 AND n2 > 0
        |),
        |b AS (
        |  SELECT n1, x1, n2, x2, p1, p2,
        |    greatest(0.0, (p1 + 1.959963984540054 * 1.959963984540054 / (2.0 * n1)) / d1
        |      - 1.959963984540054 / d1 * sqrt(p1 * (1.0 - p1) / n1
        |          + 1.959963984540054 * 1.959963984540054 / (4.0 * n1 * n1))) AS l1,
        |    least(1.0, (p1 + 1.959963984540054 * 1.959963984540054 / (2.0 * n1)) / d1
        |      + 1.959963984540054 / d1 * sqrt(p1 * (1.0 - p1) / n1
        |          + 1.959963984540054 * 1.959963984540054 / (4.0 * n1 * n1))) AS u1,
        |    greatest(0.0, (p2 + 1.959963984540054 * 1.959963984540054 / (2.0 * n2)) / d2
        |      - 1.959963984540054 / d2 * sqrt(p2 * (1.0 - p2) / n2
        |          + 1.959963984540054 * 1.959963984540054 / (4.0 * n2 * n2))) AS l2,
        |    least(1.0, (p2 + 1.959963984540054 * 1.959963984540054 / (2.0 * n2)) / d2
        |      + 1.959963984540054 / d2 * sqrt(p2 * (1.0 - p2) / n2
        |          + 1.959963984540054 * 1.959963984540054 / (4.0 * n2 * n2))) AS u2
        |  FROM w
        |)
        |SELECT n1, x1, n2, x2, round(p1, 4) AS p1, round(p2, 4) AS p2,
        |       round(p1 - p2, 4) AS diff,
        |       round(p1 - p2 - sqrt((p1 - l1) * (p1 - l1)
        |                            + (u2 - p2) * (u2 - p2)), 4) AS ci_lo,
        |       round(p1 - p2 + sqrt((u1 - p1) * (u1 - p1)
        |                            + (p2 - l2) * (p2 - l2)), 4) AS ci_hi
        |FROM b""".stripMargin,
    // effect-size replay: welchT's exact cent moments, (n-1)-weighted
    // pooled SD, written-order doubles, Hedges correction inline.,
    "q310_effect_size" ->
      """WITH a AS (
        |  SELECT
        |    CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n1,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT))
        |         FILTER (event_type = 'click') AS BIGINT) AS s1,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)
        |             * CAST(round(value * 100) AS BIGINT))
        |         FILTER (event_type = 'click') AS BIGINT) AS q1,
        |    CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n2,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT))
        |         FILTER (event_type = 'view') AS BIGINT) AS s2,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)
        |             * CAST(round(value * 100) AS BIGINT))
        |         FILTER (event_type = 'view') AS BIGINT) AS q2
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        |),
        |b AS (
        |  SELECT n1, n2,
        |         CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md,
        |         sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
        |               + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2))
        |              / (n1 + n2 - 2)) AS sp
        |  FROM a WHERE n1 > 1 AND n2 > 1
        |),
        |c AS (
        |  SELECT n1, n2, md, sp,
        |         md / (CASE WHEN sp <= 0 THEN NULL ELSE sp END) AS dd
        |  FROM b
        |)
        |SELECT n1, n2, round(md / 100.0, 4) AS mean_diff,
        |       round(sp / 100.0, 4) AS pooled_sd,
        |       round(dd, 4) AS cohens_d,
        |       round(dd * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)), 4)
        |         AS hedges_g
        |FROM c""".stripMargin,
    // Wilson replay: exact long counts, the z literal written as the
    // same double product, written-order interval arithmetic, 4dp.,
    "q300_wilson" ->
      """WITH g AS (
        |  SELECT user_id % 10 AS cohort, CAST(count(*) AS BIGINT) AS trials,
        |         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |           AS successes
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |),
        |w AS (
        |  SELECT cohort, trials, successes,
        |         CAST(successes AS DOUBLE) / trials AS p,
        |         1.0 + 1.959963984540054 * 1.959963984540054 / trials AS den
        |  FROM g
        |),
        |c AS (
        |  SELECT cohort, trials, successes, p,
        |         (p + 1.959963984540054 * 1.959963984540054 / (2.0 * trials))
        |           / den AS ctr,
        |         1.959963984540054 / den * sqrt(
        |           p * (1.0 - p) / trials +
        |           1.959963984540054 * 1.959963984540054
        |             / (4.0 * trials * trials)) AS hw
        |  FROM w
        |)
        |SELECT cohort, trials, successes, round(p, 4) AS p_hat,
        |       round(greatest(0.0, ctr - hw), 4) AS ci_lo,
        |       round(least(1.0, ctr + hw), 4) AS ci_hi
        |FROM c""".stripMargin,
    // Brown–Forsythe replay: exact interpolated medians in half-cents
    // (quantile_cont ≡ Spark percentile, the q50 contract), integer
    // |deviation|, HUGEINT moments, anovaF written-order doubles.,
    "q298_brown_forsythe" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) * 2 AS c2
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |m AS (
        |  SELECT g, CAST(round(quantile_cont(c2, 0.5)) AS BIGINT) AS m2
        |  FROM v GROUP BY 1
        |),
        |z AS (SELECT v.g, abs(v.c2 - m.m2) AS z FROM v JOIN m USING (g)),
        |gm AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS s,
        |         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q
        |  FROM z GROUP BY 1
        |),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sb,
        |         CAST(sum(s) AS DOUBLE) AS sS, CAST(sum(q) AS DOUBLE) AS qQ
        |  FROM gm
        |)
        |SELECT k, n,
        |       round(((sb - sS * sS / n) / (k - 1)) /
        |             CASE WHEN qQ - sb <= 0 OR n <= k THEN NULL
        |                  ELSE (qQ - sb) / (n - k) END, 4) AS w_stat
        |FROM a""".stripMargin,
    // Friedman replay: identical dense day×type zero-fill, integer
    // 2·rank via rank() − 1 + peer count (≡ the RANGE-frame
    // cumulative), exact long rank sums, written-order doubles, 4dp.,
    // Median-test replay: identical integer lower-median decision on
    // the value grain, exact cells, HUGEINT χ² products.
    "q355_median_test" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT v,
        |         sum(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c1 + c2) OVER () AS n
        |  FROM p
        |),
        |m AS (SELECT min(v) AS med FROM c WHERE cum * 2 >= n),
        |a AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN v > m.med THEN c1 ELSE 0 END) AS BIGINT)
        |      AS above_a,
        |    CAST(sum(CASE WHEN v > m.med THEN c2 ELSE 0 END) AS BIGINT)
        |      AS above_b,
        |    max(m.med) AS med
        |  FROM p CROSS JOIN m
        |),
        |f AS (
        |  SELECT *,
        |    (CAST(above_a AS HUGEINT) * (n2 - above_b)
        |      - CAST(n1 - above_a AS HUGEINT) * above_b) AS det,
        |    CAST(above_a + above_b AS HUGEINT) AS col1,
        |    CAST((n1 - above_a) + (n2 - above_b) AS HUGEINT) AS col2
        |  FROM a
        |)
        |SELECT n1, n2, med / 100.0 AS median, above_a, above_b,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND col1 > 0 AND col2 > 0 THEN
        |         round(CAST(det * det * (n1 + n2) AS DOUBLE)
        |               / CAST(CAST(n1 AS HUGEINT) * n2 * col1 * col2
        |                      AS DOUBLE), 4)
        |       END AS chi2
        |FROM f""".stripMargin,
    // Mood replay: q199's doubled midranks, D = 2r − (N+1) exact
    // integers, 4M in HUGEINT, the same null-moment z expression.
    "q354_mood" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT c1, c2,
        |         $Midrank2Sql AS r2,
        |         sum(c1 + c2) OVER () AS nn
        |  FROM p
        |),
        |a AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |         sum(CAST(c1 AS HUGEINT) * (r2 - (nn + 1)) * (r2 - (nn + 1)))
        |           AS m4
        |  FROM c
        |)
        |SELECT n1, n2, CAST(m4 AS DOUBLE) / 4.0 AS m,
        |       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 2 THEN
        |         round((CAST(m4 AS DOUBLE) / 4.0
        |                - CAST(n1 AS DOUBLE)
        |                  * (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
        |                     - 1.0) / 12.0)
        |               / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                      * (CAST(n1 + n2 AS DOUBLE) + 1.0)
        |                      * (CAST(n1 + n2 AS DOUBLE)
        |                         * CAST(n1 + n2 AS DOUBLE) - 4.0) / 180.0), 4)
        |       END AS z
        |FROM a""".stripMargin,
    // CvM replay: the q192 CDF CTE with per-value multiplicities; the
    // sum is exact HUGEINT (mirrors decimal(38,0)), one final division.
    "q353_cvm" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT v, c1, c2,
        |         sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
        |         sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
        |  FROM p
        |),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM p),
        |m AS (
        |  SELECT t.n1, t.n2,
        |         sum(CAST(c1 + c2 AS HUGEINT)
        |             * (CAST(f1 AS HUGEINT) * t.n2 - CAST(f2 AS HUGEINT) * t.n1)
        |             * (CAST(f1 AS HUGEINT) * t.n2 - CAST(f2 AS HUGEINT) * t.n1))
        |           AS num
        |  FROM c CROSS JOIN t GROUP BY 1, 2
        |)
        |SELECT n1, n2,
        |       round(CAST(num AS DOUBLE)
        |             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)),
        |             4) AS t_cvm
        |FROM m""".stripMargin,
    // Pettitt replay: identical integer doubled midranks (two value
    // frames), exact long U_t, the same (|U| desc, t) argmax, one
    // final double p expression.
    "q352_pettitt" ->
      s"""WITH s AS (
        |  SELECT event_type, $DaySql AS t,
        |         CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT event_type, t,
        |    2 * CAST(coalesce(count(*) OVER (PARTITION BY event_type ORDER BY v
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY event_type, v) AS BIGINT)
        |      + 1 AS r2,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM s
        |),
        |u AS (
        |  SELECT event_type, t, n,
        |    CAST(sum(r2) OVER (PARTITION BY event_type ORDER BY t
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      - CAST(row_number() OVER (PARTITION BY event_type ORDER BY t)
        |          AS BIGINT) * (n + 1) AS uu
        |  FROM r
        |),
        |p AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |                               ORDER BY abs(uu) DESC, t) AS pick
        |  FROM u
        |)
        |SELECT event_type, n, CAST(abs(uu) AS BIGINT) AS k_stat, t AS t_star,
        |       CASE WHEN n > 1 THEN
        |         round(least(1.0, 2.0 * exp(-6.0 * CAST(abs(uu) AS DOUBLE)
        |               * CAST(abs(uu) AS DOUBLE)
        |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                    * CAST(n AS DOUBLE)
        |                  + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 4)
        |       END AS p_value
        |FROM p WHERE pick = 1""".stripMargin,
    // Kendall's W replay: q295's rank CTEs through a1/a2, then the W
    // expression mirrored term-for-term (left-associated doubles over
    // exact integers).
    "q349_kendall_w" ->
      s"""WITH $BlockRankSumsSql,
        |f AS (
        |  SELECT n_blocks, k,
        |         3.0 * CAST(rr4 AS DOUBLE)
        |           - 3.0 * CAST(n_blocks AS DOUBLE) * CAST(n_blocks AS DOUBLE)
        |             * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
        |             * (CAST(k AS DOUBLE) + 1.0) AS num,
        |         CAST(n_blocks AS DOUBLE) * CAST(n_blocks AS DOUBLE)
        |           * CAST(k AS DOUBLE)
        |           * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
        |           - CAST(n_blocks AS DOUBLE) * CAST(tsum AS DOUBLE) AS den
        |  FROM a1, a2
        |)
        |SELECT n_blocks, k,
        |       round(num / (CASE WHEN den <= 0 THEN NULL ELSE den END), 4) AS w
        |FROM f""".stripMargin,
    "q295_friedman" ->
      s"""WITH $BlockRankSumsSql
        |SELECT n_blocks, k,
        |       round(12.0 * (CAST(rr4 AS DOUBLE) / 4.0)
        |             / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |                * CAST(k + 1 AS DOUBLE))
        |             - 3.0 * CAST(n_blocks AS DOUBLE) * CAST(k + 1 AS DOUBLE),
        |             4) AS chi2,
        |       round((12.0 * (CAST(rr4 AS DOUBLE) / 4.0)
        |              / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |                 * CAST(k + 1 AS DOUBLE))
        |              - 3.0 * CAST(n_blocks AS DOUBLE) * CAST(k + 1 AS DOUBLE))
        |             / (CASE WHEN 1.0 - CAST(tsum AS DOUBLE)
        |                            / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |                               * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)) <= 0
        |                     THEN NULL
        |                     ELSE 1.0 - CAST(tsum AS DOUBLE)
        |                            / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |                               * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0))
        |                END), 4) AS chi2_adj
        |FROM a1, a2""".stripMargin,
    // Bartlett replay: exact cents moments per group, groups with
    // n < 2 or zero variance excluded on both sides, written-order
    // doubles with natural logs, 4dp.
    "q373_bartlett" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |gm AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS s,
        |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
        |  FROM v GROUP BY 1
        |),
        |gv AS (
        |  SELECT n, (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |           / (n - 1) AS var
        |  FROM gm WHERE n >= 2
        |),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |         sum((n - 1) * var) AS sw,
        |         sum((n - 1) * ln(var)) AS sl,
        |         sum(1.0 / (n - 1)) AS ih
        |  FROM gv WHERE var > 0
        |)
        |SELECT k, n,
        |       round(CASE WHEN k >= 2 AND n > k THEN
        |         ((n - k) * ln(sw / (n - k)) - sl) /
        |         (1 + (ih - 1.0 / (n - k)) / (3 * (k - 1))) END, 4) AS t_stat
        |FROM a""".stripMargin,
    // Levene replay: per-row deviation numerators |c·n − Σc| exact in
    // HUGEINT (≡ decimal(38,0)), per-group z-moments as doubles with
    // the divisions done once, the anovaF fold, 4dp.
    "q374_levene" ->
      """WITH v AS MATERIALIZED (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |sums AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS s
        |  FROM v GROUP BY 1
        |),
        |u AS (
        |  SELECT v.g, sums.n, abs(CAST(v.c AS HUGEINT) * sums.n - sums.s) AS u
        |  FROM v JOIN sums USING (g)
        |),
        |gm AS (
        |  SELECT g, max(n) AS n, CAST(sum(u) AS HUGEINT) AS us,
        |         CAST(sum(u * u) AS HUGEINT) AS uq
        |  FROM u GROUP BY 1
        |),
        |zz AS (
        |  SELECT n, CAST(us AS DOUBLE) / n AS zs,
        |         CAST(uq AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS zq
        |  FROM gm
        |),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |         sum(zs * zs / n) AS sb, sum(zs) AS sS, sum(zq) AS qQ
        |  FROM zz
        |)
        |SELECT k, n,
        |       round(((sb - sS * sS / n) / (k - 1)) /
        |             CASE WHEN qQ - sb <= 0 OR n <= k THEN NULL
        |                  ELSE (qQ - sb) / (n - k) END, 4) AS w_stat
        |FROM a""".stripMargin,
    // Cochran-Q replay: identical dense user×type binary grid, exact
    // integer totals (HUGEINT squares), one final division.
    "q375_cochran_q" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT user_id AS b, event_type AS g,
        |         CAST(max(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2
        |),
        |dense AS MATERIALIZED (
        |  SELECT bb.b, gg.g, coalesce(c.x, 0) AS x
        |  FROM (SELECT DISTINCT b FROM cells) bb
        |  CROSS JOIN (SELECT DISTINCT g FROM cells) gg
        |  LEFT JOIN cells c ON c.b = bb.b AND c.g = gg.g
        |),
        |ct AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS cc,
        |         CAST(sum(cj) AS BIGINT) AS nn
        |  FROM (SELECT g, CAST(sum(x) AS BIGINT) AS cj FROM dense GROUP BY 1)
        |),
        |rt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS b, CAST(sum(ru) AS BIGINT) AS r,
        |         CAST(sum(CAST(ru AS HUGEINT) * ru) AS HUGEINT) AS rr
        |  FROM (SELECT b, CAST(sum(x) AS BIGINT) AS ru FROM dense GROUP BY 1)
        |)
        |SELECT ct.k, rt.b,
        |       round((ct.k - 1) *
        |             (ct.k * CAST(ct.cc AS DOUBLE)
        |              - CAST(ct.nn AS DOUBLE) * CAST(ct.nn AS DOUBLE)) /
        |             CASE WHEN CAST(ct.k AS DOUBLE) * rt.r
        |                       - CAST(rt.rr AS DOUBLE) <= 0 THEN NULL
        |                  ELSE CAST(ct.k AS DOUBLE) * rt.r
        |                       - CAST(rt.rr AS DOUBLE) END, 4) AS q_stat
        |FROM ct, rt""".stripMargin,
    // Page-L replay: the q295 dense doubled-rank frame, lexicographic
    // treatment ordinals, exact doubled L, no-tie null moments.
    "q376_page_trend" ->
      s"""WITH cells AS MATERIALIZED (
        |  SELECT $DaySql AS b,
        |         event_type AS g, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |),
        |$DenseBlocksSql,
        |r AS MATERIALIZED (
        |  SELECT b, g,
        |         2 * (rank() OVER (PARTITION BY b ORDER BY cnt) - 1)
        |           + CAST(count(*) OVER (PARTITION BY b, cnt) AS BIGINT) + 1 AS r2
        |  FROM dense
        |),
        |pert AS (
        |  SELECT g, CAST(sum(r2) AS BIGINT) AS s2,
        |         CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS w
        |  FROM r GROUP BY 1
        |),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(w * s2) AS BIGINT) AS l2
        |  FROM pert
        |),
        |bl AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_blocks FROM r)
        |SELECT n_blocks, k, l2,
        |       round((CAST(l2 AS DOUBLE)
        |              - CAST(n_blocks AS DOUBLE) * k * (k + 1) * (k + 1) / 2.0) /
        |             CASE WHEN CAST(n_blocks AS DOUBLE) * k * k * (k + 1)
        |                       * (CAST(k AS DOUBLE) * k - 1.0) / 144.0 <= 0 THEN NULL
        |                  ELSE 2.0 * sqrt(CAST(n_blocks AS DOUBLE) * k * k * (k + 1)
        |                       * (CAST(k AS DOUBLE) * k - 1.0) / 144.0) END, 4) AS z
        |FROM a, bl""".stripMargin,
    // G-test: the q182 cell/margin frame; per-cell O·ln(O·N/(R·C))
    // rounded 6dp (empty cells contribute exactly 0 — no correction
    // term), G = 2·Σ at 4dp.
    "q380_g_test" ->
      s"""WITH $ContingencySql,
        |c AS (
        |  SELECT lang, source, n,
        |         round(CAST(n_ab AS DOUBLE) *
        |               ln((CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)) /
        |                  (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6) AS contrib
        |  FROM e
        |),
        |agg AS (
        |  SELECT CAST(min(n) AS BIGINT) AS n,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS r_levels,
        |         CAST(count(DISTINCT source) AS BIGINT) AS c_levels,
        |         sum(contrib) AS sc
        |  FROM c
        |)
        |SELECT n, r_levels, c_levels,
        |       (r_levels - 1) * (c_levels - 1) AS dof,
        |       round(2.0 * sc, 4) AS g_stat
        |FROM agg""".stripMargin,
    // CMH: day-strata 2x2 counts from one conditional pass; E, V and
    // the two Mantel-Haenszel odds terms rounded 6dp per stratum
    // before the strata-sized sums; continuity-corrected CMH at 4dp.
    "q381_cmh" ->
      s"""WITH s AS (
        |  SELECT $DaySql AS t,
        |         CAST(count(*) FILTER (user_id % 2 = 1 AND value > 0.5)
        |              AS BIGINT) AS a,
        |         CAST(count(*) FILTER (user_id % 2 = 1 AND NOT value > 0.5)
        |              AS BIGINT) AS b,
        |         CAST(count(*) FILTER (NOT user_id % 2 = 1 AND value > 0.5)
        |              AS BIGINT) AS c,
        |         CAST(count(*) FILTER (NOT user_id % 2 = 1 AND NOT value > 0.5)
        |              AS BIGINT) AS d
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1
        |),
        |m AS (
        |  SELECT a + b + c + d AS n, a, b, c, d,
        |         a + b AS r1, c + d AS r2, a + c AS c1, b + d AS c2
        |  FROM s WHERE a + b + c + d >= 2
        |),
        |t AS (
        |  SELECT n,
        |         round(CAST(a AS DOUBLE)
        |               - (CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)) / n, 6) AS num,
        |         round((CAST(r1 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |                * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) /
        |               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                * (CAST(n AS DOUBLE) - 1.0)), 6) AS vv,
        |         round((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)) / n, 6) AS r,
        |         round((CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) / n, 6) AS sr
        |  FROM m
        |),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS strata, CAST(sum(n) AS BIGINT) AS n,
        |         sum(num) AS sn, sum(vv) AS sv, sum(r) AS srr, sum(sr) AS sss
        |  FROM t
        |)
        |SELECT strata, n,
        |       round(CASE WHEN sv > 0
        |             THEN (abs(sn) - 0.5) * (abs(sn) - 0.5) / sv END, 4)
        |         AS cmh_stat,
        |       round(CASE WHEN sss > 0 THEN srr / sss END, 4) AS or_mh
        |FROM agg""".stripMargin,
    // Dunn: the q292 pooled doubled-rank frame; pairwise z from the
    // exact decimal numerator S_a*n_b - S_b*n_a over the pooled
    // tie-corrected sigma2 (doubled scale: /3 not /12).
    "q382_dunn" ->
      s"""WITH $PooledMidranksSql,
        |perg AS MATERIALIZED (
        |  SELECT g, CAST(sum(n) AS BIGINT) AS ng,
        |         CAST(sum(CAST(n AS HUGEINT) * r2) AS HUGEINT) AS s2
        |  FROM pts JOIN vr USING (v) GROUP BY 1
        |),
        |tot AS (
        |  SELECT CAST(sum(ng) AS BIGINT) AS nn,
        |         (SELECT coalesce(CAST($TieCubeSql
        |                               AS HUGEINT), 0) FROM vg) AS tie3
        |  FROM perg
        |)
        |SELECT a.g AS g_a, b.g AS g_b, a.ng AS n_a, b.ng AS n_b,
        |       round(CASE WHEN (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE)
        |                        - CAST(tie3 AS DOUBLE)
        |                          / (CAST(nn AS DOUBLE) - 1.0)) / 3.0 > 0
        |                   AND nn > 1
        |             THEN CAST(a.s2 * b.ng - b.s2 * a.ng AS DOUBLE) /
        |                  (CAST(a.ng AS DOUBLE) * CAST(b.ng AS DOUBLE) *
        |                   sqrt(((CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE)
        |                          - CAST(tie3 AS DOUBLE)
        |                            / (CAST(nn AS DOUBLE) - 1.0)) / 3.0) *
        |                        (1.0 / a.ng + 1.0 / b.ng))) END, 4) AS z
        |FROM perg a, perg b, tot
        |WHERE a.g < b.g""".stripMargin,
    // Cox-Stuart: per-type day-ordered count list, half-series pairs
    // via 1-based list indexing (the q272 fold convention), exact
    // sign counts, continuity-corrected binomial z.
    "q383_cox_stuart" ->
      s"""WITH s AS (
        |${DailyCountsSql("x")}
        |),
        |a AS (
        |  SELECT event_type, list(x ORDER BY day) AS arr,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM s GROUP BY 1
        |),
        |b AS (
        |  SELECT event_type, n, n // 2 AS m, n - n // 2 AS h, arr
        |  FROM a
        |),
        |c AS (
        |  SELECT event_type, n,
        |         CAST(len(list_filter(range(1, m + 1),
        |              i -> arr[CAST(i + h AS INT)] > arr[CAST(i AS INT)]))
        |              AS BIGINT) AS n_pos,
        |         CAST(len(list_filter(range(1, m + 1),
        |              i -> arr[CAST(i + h AS INT)] < arr[CAST(i AS INT)]))
        |              AS BIGINT) AS n_neg
        |  FROM b
        |)
        |SELECT event_type, n, n_pos, n_neg,
        |       round(CASE
        |         WHEN n_pos + n_neg > 0 AND 2 * n_pos - (n_pos + n_neg) <> 0
        |         THEN sign(CAST(2 * n_pos - (n_pos + n_neg) AS DOUBLE)) *
        |              (abs(CAST(2 * n_pos - (n_pos + n_neg) AS DOUBLE)) - 1.0) /
        |              sqrt(CAST(n_pos + n_neg AS DOUBLE))
        |         WHEN n_pos + n_neg > 0 THEN 0.0 END, 4) + 0.0 AS z
        |FROM c""".stripMargin,
    // KPSS: multiply-through demeaning e = x*n - S (exact HUGEINT),
    // partial sums P per key, eta = sum(P^2)/(n*sum(e^2)) — exact
    // integers until the one division.
    "q384_kpss" ->
      s"""WITH s AS (
        |${DailyCountsSql("x")}
        |),
        |t AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS HUGEINT) AS sx
        |  FROM s GROUP BY 1
        |),
        |e AS (
        |  SELECT s.event_type, s.day, t.n,
        |         CAST(s.x AS HUGEINT) * t.n - t.sx AS e
        |  FROM s JOIN t USING (event_type)
        |),
        |p AS (
        |  SELECT event_type, n, e,
        |         sum(e) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS UNBOUNDED PRECEDING) AS pp
        |  FROM e
        |)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |       round(CASE WHEN sum(e * e) > 0
        |             THEN CAST(sum(pp * pp) AS DOUBLE) /
        |                  (CAST(max(n) AS DOUBLE) * CAST(sum(e * e) AS DOUBLE))
        |             END, 4) AS eta
        |FROM p GROUP BY 1""".stripMargin,
    // Turning points + difference sign: strict-inequality lag/lead
    // counts per type series, textbook null moments.
    "q385_turning_points" ->
      s"""WITH s AS (
        |${DailyCountsSql("x")}
        |),
        |w AS (
        |  SELECT event_type, x,
        |         lag(x) OVER (PARTITION BY event_type ORDER BY day) AS p,
        |         lead(x) OVER (PARTITION BY event_type ORDER BY day) AS f
        |  FROM s
        |),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (p IS NOT NULL AND f IS NOT NULL AND
        |              ((x > p AND x > f) OR (x < p AND x < f)))
        |              AS BIGINT) AS n_turning,
        |         CAST(count(*) FILTER (x > p) AS BIGINT) AS n_up
        |  FROM w GROUP BY 1
        |)
        |SELECT event_type, n, n_turning,
        |       round(CASE WHEN n >= 3
        |             THEN (CAST(n_turning AS DOUBLE)
        |                   - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0) /
        |                  sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0) END, 4)
        |         AS z_tp,
        |       n_up,
        |       round(CASE WHEN n >= 2
        |             THEN (CAST(n_up AS DOUBLE) - (CAST(n AS DOUBLE) - 1.0) / 2.0) /
        |                  sqrt((CAST(n AS DOUBLE) + 1.0) / 12.0) END, 4) AS z_ds
        |FROM a""".stripMargin,
    // Conformal replay: the G15 md5 split, exact multiply-through
    // nonconformity |c*nc - sc|, order-statistic q-hat over the
    // value-grain score table, integer coverage compare.
    "q404_conformal" -> {
      val hx = graft.QueryHelpers.HexValSql(
        "md5(CAST(event_id AS VARCHAR) || ':conf')", 1, 6)
      s"""WITH base AS MATERIALIZED (
         |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c,
         |         ($hx % 2 = 0) AS cal
         |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
         |),
         |tot AS MATERIALIZED (
         |  SELECT g, CAST(count(*) AS BIGINT) AS nc,
         |         CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS sc
         |  FROM base WHERE cal GROUP BY 1
         |),
         |scv AS MATERIALIZED (
         |  SELECT b.g, b.cal, abs(CAST(b.c AS HUGEINT) * t.nc - t.sc) AS s
         |  FROM base b JOIN tot t USING (g)
         |),
         |cg AS (
         |  SELECT g, s, CAST(count(*) AS BIGINT) AS n
         |  FROM scv WHERE cal GROUP BY 1, 2
         |),
         |qh AS MATERIALIZED (
         |  SELECT g, min(s) AS q FROM (
         |    SELECT cg.g, cg.s,
         |           sum(cg.n) OVER (PARTITION BY cg.g ORDER BY cg.s
         |                 ROWS UNBOUNDED PRECEDING) AS cum,
         |           (9 * (t.nc + 1) + 9) // 10 AS r
         |    FROM cg JOIN tot t USING (g)
         |  ) WHERE cum >= r GROUP BY 1
         |)
         |SELECT scv.g AS event_type, CAST(max(t.nc) AS BIGINT) AS n_cal,
         |       CAST(count(*) AS BIGINT) AS n_test,
         |       round(CAST(max(qh.q) AS DOUBLE)
         |             / (CAST(max(t.nc) AS DOUBLE) * 100.0), 4) AS q_hat,
         |       round(CAST(count(*) FILTER (scv.s <= qh.q) AS DOUBLE)
         |             / count(*), 4) AS coverage,
         |       0.9 AS nominal
         |FROM scv JOIN tot t USING (g) JOIN qh USING (g)
         |WHERE NOT scv.cal
         |GROUP BY 1""".stripMargin
    },
    // Deming replay: exact HUGEINT moments, multiply-through centered
    // sums cast to double, one pinned slope/intercept chain.
    "q405_deming" ->
      s"""WITH $ClickViewMomentsSql,
        |c AS (
        |  SELECT n, sx, sy,
        |         CAST(sxx * n - sx * sx AS DOUBLE) AS cxx,
        |         CAST(syy * n - sy * sy AS DOUBLE) AS cyy,
        |         CAST(sxy * n - sx * sy AS DOUBLE) AS cxy
        |  FROM m
        |),
        |bb AS (
        |  SELECT n, sx, sy,
        |         CASE WHEN cxy <> 0.0 THEN
        |           (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
        |                             + 4.0 * cxy * cxy)) / (2.0 * cxy)
        |         END AS b
        |  FROM c
        |)
        |SELECT n, round(b, 4) AS slope,
        |       round((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n, 4)
        |         AS intercept
        |FROM bb""".stripMargin,
    // AD2 replay: the q192 value-grain CDF frame; doubled midranks,
    // exact HUGEINT numerators/denominator, per-value pico-unit
    // contributions (floor(x*1e12 + 0.5)) summed order-free.
    "q397_ad2" ->
      s"""WITH pts AS MATERIALIZED (
        |$TwoGroupGrainSql
        |),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM pts),
        |c AS (
        |  SELECT c1, c2,
        |         sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
        |         sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
        |  FROM pts
        |),
        |e AS (
        |  SELECT n1, n2, n1 + n2 AS nn, c1 + c2 AS l,
        |         2 * (f1 + f2) - (c1 + c2) AS b2,
        |         2 * f1 - c1 AS m21, 2 * f2 - c2 AS m22
        |  FROM c CROSS JOIN t
        |),
        |g AS (
        |  SELECT n1, n2, nn, l,
        |         CAST(m21 AS HUGEINT) * nn - CAST(b2 AS HUGEINT) * n1 AS num1,
        |         CAST(m22 AS HUGEINT) * nn - CAST(b2 AS HUGEINT) * n2 AS num2,
        |         CAST(b2 AS HUGEINT) * (2 * nn - b2)
        |           - CAST(nn AS HUGEINT) * l AS den
        |  FROM e
        |),
        |q AS (
        |  SELECT n1, n2,
        |         CAST(floor((CASE WHEN den > 0
        |           THEN CAST(nn - 1 AS DOUBLE) * l *
        |                (CAST(num1 * num1 AS DOUBLE) / CAST(den AS DOUBLE) / n1
        |                 + CAST(num2 * num2 AS DOUBLE) / CAST(den AS DOUBLE) / n2)
        |                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
        |           ELSE 0.0 END) * 1e12 + 0.5) AS BIGINT) AS tq
        |  FROM g
        |)
        |SELECT n1, n2, round(CAST(sum(tq) AS DOUBLE) / 1e12, 4) AS a2
        |FROM q GROUP BY 1, 2""".stripMargin,
    // Squared-ranks replay: doubled group medians (the q378 form),
    // pooled doubled-rank frame on u, quarter-unit S and fourth
    // powers in HUGEINT, the kruskalWallis double fold.
    "q398_squared_ranks" ->
      """WITH rows0 AS MATERIALIZED (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) * 2 AS c2
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |med AS (
        |  SELECT g, CAST(round(quantile_cont(c2, 0.5)) AS BIGINT) AS m2
        |  FROM rows0 GROUP BY 1
        |),
        |pts AS MATERIALIZED (
        |  SELECT abs(r.c2 - m.m2) AS u, r.g, CAST(count(*) AS BIGINT) AS n
        |  FROM rows0 r JOIN med m USING (g) GROUP BY 1, 2
        |),
        |vg AS (SELECT u, CAST(sum(n) AS BIGINT) AS t FROM pts GROUP BY 1),
        |vr AS (
        |  SELECT u, t,
        |         2 * coalesce(sum(t) OVER (ORDER BY u
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + t + 1 AS r2
        |  FROM vg
        |),
        |perg AS (
        |  SELECT g, CAST(sum(n) AS BIGINT) AS ng,
        |         CAST(sum(CAST(n AS HUGEINT) * r2 * r2) AS HUGEINT) AS s4,
        |         CAST(sum(CAST(n AS HUGEINT) * r2 * r2 * r2 * r2) AS HUGEINT)
        |           AS q16
        |  FROM pts JOIN vr USING (u) GROUP BY 1
        |),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |         sum(CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / ng) AS aa,
        |         CAST(sum(s4) AS HUGEINT) AS s4t,
        |         CAST(sum(q16) AS HUGEINT) AS q16t
        |  FROM perg
        |)
        |SELECT k, n,
        |       round(CASE WHEN CAST(q16t AS DOUBLE)
        |                       - CAST(s4t AS DOUBLE) * CAST(s4t AS DOUBLE) / n > 0
        |             THEN CAST(n - 1 AS DOUBLE) *
        |                  (aa - CAST(s4t AS DOUBLE) * CAST(s4t AS DOUBLE) / n) /
        |                  (CAST(q16t AS DOUBLE)
        |                   - CAST(s4t AS DOUBLE) * CAST(s4t AS DOUBLE) / n)
        |             END, 4) AS t_stat
        |FROM a""".stripMargin,
  )
}
