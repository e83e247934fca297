package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Agreement / classifier-eval / seasonal-decomposition rollups split
  * out of [[Rollups]] (pure move — VERDICT r12 shard hygiene):
  * Krippendorff, kappa, Brier, MCC, ROC/PR/F1/Qini/lift curves, MAD
  * outliers, SRM, STL-lite decomposition + anomalies + strength,
  * calibration error, Gini concentration. Mixed into the `Rollups`
  * object, so every call site and registry entry is unchanged.
  */
private[operators] trait RollupsEval extends RollupsScaleForms {
  /** Krippendorff's alpha for BINARY ratings, any number of raters
    * per unit, missing data handled the canonical way (units with
    * fewer than 2 ratings drop; raters need not overlap) — the
    * agreement coefficient that subsumes F54's kappa when annotator
    * coverage is ragged, which is what real labeling projects have.
    *
    * alpha = 1 − Do/De over the coincidence matrix: per unit with c
    * ratings and s ones, the 0–1 coincidence contribution is
    * 2·s·(c−s)/(c−1); De pools marginals n0·n1. Determinism: each
    * unit's contribution quantizes to integer micro-units (1e-6,
    * half-up) BEFORE the corpus sum — no float fold-order dependence
    * — and marginal products run in decimal(38,0) (the corpus-moment
    * contract). One (unit) combine + one global aggregate.
    *
    * Output: one row (n_units, n_ratings, do_rate, de_rate, alpha).
    */
  def krippendorffAlpha(
      ratings: DataFrame,
      itemCol: String,
      ratingCol: String): DataFrame = {
    val units = ratings
      .filter(col(ratingCol).isNotNull)
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("__c"),
        sum(when(col(ratingCol) =!= 0, 1L).otherwise(0L)).as("__s"))
      .filter(col("__c") >= 2)
      .withColumn("__o01u",
        round(lit(2.0) * col("__s") * (col("__c") - col("__s"))
          / (col("__c") - 1) * 1e6).cast("long"))
    units
      .agg(
        count(lit(1)).as("n_units"),
        sum(col("__c")).as("n_ratings"),
        sum(col("__s")).as("__n1"),
        sum(col("__o01u")).as("__o01"))
      .withColumn("__n0", col("n_ratings") - col("__n1"))
      .withColumn("do_rate",
        round(d(col("__o01")) / 1e6 / col("n_ratings"), 4))
      .withColumn("de_rate", round(
        lit(2.0) * d(dec(col("__n0")) * dec(col("__n1")))
          / d(dec(col("n_ratings")) * dec(col("n_ratings") - 1)), 4))
      .withColumn("alpha",
        when(col("__n0") === 0 || col("__n1") === 0, lit(null))
          .otherwise(round(lit(1.0) -
            (d(col("__o01")) / 1e6) * (col("n_ratings") - 1)
              / (lit(2.0) * d(dec(col("__n0")) * dec(col("__n1")))), 4)))
      .select(col("n_units"), col("n_ratings"), col("do_rate"),
        col("de_rate"), col("alpha"))
  }
  /** Cohen's kappa between two binary judges — chance-corrected
    * agreement (Cohen 1960): κ = (p_o − p_e)/(1 − p_e). The question
    * two quality filters, two annotators, or a filter-vs-gold pair
    * must answer before one replaces the other — raw agreement
    * flatters whenever both mostly say "pass".
    *
    * Exactness: the 2×2 table is ONE aggregate of exact longs;
    * p_o/p_e/κ are single double expressions, 4dp.
    *
    * Output: one row (n, n_agree, p_o, p_e, kappa).
    */
  def cohenKappa(
      df: DataFrame,
      judgeACol: String,
      judgeBCol: String): DataFrame = {
    val a = col(judgeACol).cast("boolean")
    val b = col(judgeBCol).cast("boolean")
    df.filter(a.isNotNull && b.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(a && b, 1L).otherwise(0L)).as("__tt"),
        sum(when(a && !b, 1L).otherwise(0L)).as("__tf"),
        sum(when(!a && b, 1L).otherwise(0L)).as("__ft"),
        sum(when(!a && !b, 1L).otherwise(0L)).as("__ff"))
      .filter(col("n") > 0)
      .withColumn("n_agree", col("__tt") + col("__ff"))
      .withColumn("__po", d(col("n_agree")) / col("n"))
      .withColumn("__pe",
        (d(col("__tt") + col("__tf")) * d(col("__tt") + col("__ft")) +
          d(col("__ft") + col("__ff")) * d(col("__tf") + col("__ff"))) /
          (d(col("n")) * d(col("n"))))
      .select(col("n"), col("n_agree"),
        round(col("__po"), 4).as("p_o"), round(col("__pe"), 4).as("p_e"),
        round((col("__po") - col("__pe")) /
          when(col("__pe") === 1.0, lit(null)).otherwise(lit(1.0) - col("__pe")), 4)
          .as("kappa"))
  }

  /** Brier score — the PROPER scoring rule for probability
    * forecasts: mean (confidence − outcome)², plus the reference
    * score of always forecasting the base rate and the resulting
    * skill = 1 − BS/BS_ref (Brier 1950; Murphy 1973). F39's ECE says
    * whether probabilities are honest per bin; the Brier skill says
    * whether the forecasts beat knowing nothing, in one number a
    * forecaster cannot game.
    *
    * Exactness: confidences quantize to integer 1e-4 units, so each
    * squared error is an exact long (u − 10⁴·y)² summed exactly;
    * the base rate and reference score are closed forms of the same
    * exact sums; three double divisions at the end, 6dp. One
    * aggregate.
    *
    * Output: one row (n, base_rate, brier, brier_ref, skill).
    */
  def brierScore(
      df: DataFrame,
      confCol: String,
      labelCol: String): DataFrame = {
    val u = round(col(confCol) * 10000).cast("long")
    val y = when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
    df.filter(col(confCol).isNotNull)
      .select(u.as("__u"), y.as("__y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).as("__p"),
        sum((col("__u") - lit(10000L) * col("__y")) *
          (col("__u") - lit(10000L) * col("__y"))).as("__se"))
      .filter(col("n") > 0)
      .withColumn("__rate", d(col("__p")) / col("n"))
      .withColumn("brier", round(d(col("__se")) / col("n") / 1e8, 6))
      // reference: forecast the base rate everywhere → BS_ref =
      // rate(1 − rate)
      .withColumn("brier_ref",
        round(col("__rate") * (lit(1.0) - col("__rate")), 6))
      .select(col("n"), round(col("__rate"), 4).as("base_rate"),
        col("brier"), col("brier_ref"),
        round(lit(1.0) - col("brier") /
          when(col("brier_ref") === 0, lit(null)).otherwise(col("brier_ref")), 4)
          .as("skill"))
  }

  /** Kendall's W concordance (F78) — HOW MUCH do m repeated rankings
    * of k items agree, on [0, 1]: the effect-size companion to F64's
    * Friedman χ² (which only says WHETHER they agree more than
    * chance). Same blocked-rank frame: blocks rank the k treatments
    * by cell count; W = (12·ΣR² − 3m²k(k+1)²) / (m²k(k²−1) − m·T)
    * with the standard tie term T = Σ(t³−t).
    *
    * Exactness: rides Friedman's integer doubled ranks — ΣR² and T
    * are exact long sums; W is one final double expression over
    * them, identically associated on both engines, 4dp.
    *
    * Scale shape: the friedman contract — one (block, treatment)
    * combine, dense-grid broadcast, per-block bounded rank windows,
    * one-row reduce.
    *
    * Output: one row (n_blocks, k, w) — null when ties consume the
    * whole denominator.
    */
  def kendallW(
      df: DataFrame,
      blockCol: Column,
      treatCol: Column): DataFrame = {
    val ranked = blockMidranks(df, blockCol, treatCol)
    val perT = ranked.groupBy("g").agg(sum("__r2").as("__s2"))
      .agg(count(lit(1)).as("k"),
        sum(col("__s2") * col("__s2")).as("__rr4")) // 4·ΣR² exactly
    val ties = ranked.agg(
      sum(col("__t") * col("__t") - lit(1L)).as("__tsum"),
      countDistinct(col("b")).as("n_blocks"))
    val m = d(col("n_blocks"))
    val k = d(col("k"))
    perT.crossJoin(broadcast(ties))
      .withColumn("__num",
        lit(3.0) * d(col("__rr4")) -
          lit(3.0) * m * m * k * (k + 1.0) * (k + 1.0))
      .withColumn("__den",
        m * m * k * (k * k - 1.0) - m * d(col("__tsum")))
      .select(col("n_blocks"), col("k"),
        round(col("__num") /
          when(col("__den") <= 0, lit(null)).otherwise(col("__den")), 4)
          .as("w"))
  }

  /** Cross-entropy / log-loss with base-rate skill (F79) — the
    * likelihood-proper companion to F56's Brier: LL =
    * −mean(y·ln p + (1−y)·ln(1−p)), judged against forecasting the
    * base rate everywhere (LL_ref = the label entropy), skill =
    * 1 − LL/LL_ref. Punishes confident wrong predictions harder than
    * Brier — the score that catches overconfident filters.
    *
    * Determinism: probabilities quantize to 1e-4 units CLAMPED to
    * [1, 9999] (ln 0 is the alternative — the clamp is semantics,
    * mirrored in the oracle); each row's −ln term goes to integer
    * NANO-units via the engine-identical floor(x·1e9 + 0.5), so the
    * corpus sum is an order-free long sum; LL, the entropy reference,
    * and skill are final double expressions over exact integers.
    *
    * Scale shape: one map-side-combined reduce; no windows, no joins.
    *
    * Output: one row (n, base_rate, log_loss, log_loss_ref, skill) —
    * ref/skill null on a degenerate (all-one-label) corpus.
    */
  def logLoss(
      df: DataFrame,
      confCol: String,
      labelCol: String): DataFrame = {
    val u = greatest(lit(1L), least(lit(9999L),
      round(col(confCol) * 10000).cast("long")))
    val y = when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
    df.filter(col(confCol).isNotNull)
      .select(u.as("__u"), y.as("__y"))
      .withColumn("__t",
        floor(-when(col("__y") === 1L, log(d(col("__u")) / 10000.0))
          .otherwise(log(lit(1.0) - d(col("__u")) / 10000.0)) * 1e9 + 0.5)
          .cast("long"))
      .agg(count(lit(1)).as("n"), sum("__y").as("__p"), sum("__t").as("__ts"))
      .filter(col("n") > 0)
      .withColumn("__rate", d(col("__p")) / d(col("n")))
      .withColumn("__ll", d(col("__ts")) / d(col("n")) / 1e9)
      .withColumn("__ref",
        when(col("__p") > 0 && col("__p") < col("n"),
          -(col("__rate") * log(col("__rate")) +
            (lit(1.0) - col("__rate")) * log(lit(1.0) - col("__rate")))))
      .select(col("n"), round(col("__rate"), 4).as("base_rate"),
        round(col("__ll"), 6).as("log_loss"),
        round(col("__ref"), 6).as("log_loss_ref"),
        round(lit(1.0) - col("__ll") / col("__ref"), 4).as("skill"))
  }

  /** Pettitt changepoint test (D32) — WHERE does a keyed series most
    * likely shift level, and is the shift significant, with NO
    * distribution assumption: the rank-based Mann–Whitney-flavored
    * changepoint (Pettitt 1979), the robust companion to D16's
    * mean-split changepoint (which one outlier day can move). U_t =
    * 2·Σ_{i≤t} r_i − t(n+1) on midranks; K = max|U_t| (earliest t on
    * ties), p ≈ 2·exp(−6K²/(n³+n²)).
    *
    * Exactness: midranks ride the INTEGER doubled-rank convention
    * (2r = 2·#{v'<v} + #{v'=v} + 1 via two value-range frames), so
    * every U_t is an exact long and K/t* are integer decisions; p is
    * one final double expression over exact integers, 4dp.
    *
    * Scale shape: series live at key grain (day-grain bounded — the
    * D-family series contract); two value-ordered and one time-ordered
    * window per key partition, no single-partition stage, no joins.
    *
    * Output: (keys..., n, k_stat, t_star, p_value) — t_star is the
    * LAST index of the pre-change segment; null p on n < 2.
    */
  def pettitt(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String): DataFrame = {
    val wKey = Window.partitionBy(keys.map(col): _*)
    val byV = wKey.orderBy(col("__v"))
    val byT = wKey.orderBy(col("__t"))
    val cum = wKey.orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df
      .select(keys.map(col) ++ Seq(col(tCol).cast("long").as("__t"),
        col(valCol).cast("long").as("__v")): _*)
      .withColumn("__r2", midrank2(byV, lit(1L), tieCount(byV, lit(1L))))
      .withColumn("__n", count(lit(1)).over(wKey))
      .withColumn("__idx", row_number().over(byT))
      .withColumn("__u",
        sum(col("__r2")).over(cum) - col("__idx") * (col("__n") + 1L))
    ranked
      .withColumn("__pick",
        row_number().over(wKey.orderBy(abs(col("__u")).desc, col("__t"))))
      .filter(col("__pick") === 1)
      .select(keys.map(col) ++ Seq(col("__n").as("n"),
        abs(col("__u")).as("k_stat"), col("__t").as("t_star"),
        when(col("__n") > 1, round(least(lit(1.0),
          lit(2.0) * exp(lit(-6.0) * d(abs(col("__u"))) * d(abs(col("__u"))) /
            (d(col("__n")) * d(col("__n")) * d(col("__n")) +
              d(col("__n")) * d(col("__n"))))), 4)).as("p_value")): _*)
  }

  /** Matthews correlation coefficient — the single-number binary-
    * classifier score that stays honest under imbalance (Matthews
    * 1975; Chicco & Jurman 2020's recommended default): the Pearson
    * correlation of the 2×2 table, MCC = (TP·TN − FP·FN)/√(…). High
    * accuracy with a skewed base rate scores near 0 here.
    *
    * Exactness: ONE aggregate of exact longs; the numerator is an
    * exact long product difference (cells ≤ 2³¹ keep it in range —
    * cast decimal(38,0) for the 100 TB case), the denominator one
    * double sqrt, 4dp.
    *
    * Output: one row (n, tp, fp, fn, tn, mcc).
    */
  def matthewsCorr(
      df: DataFrame,
      predCol: String,
      labelCol: String): DataFrame = {
    val p = col(predCol).cast("boolean")
    val y = col(labelCol).cast("boolean")
    df.filter(p.isNotNull && y.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(p && y, 1L).otherwise(0L)).as("tp"),
        sum(when(p && !y, 1L).otherwise(0L)).as("fp"),
        sum(when(!p && y, 1L).otherwise(0L)).as("fn"),
        sum(when(!p && !y, 1L).otherwise(0L)).as("tn"))
      .filter(col("n") > 0)
      .withColumn("__num",
        dec(col("tp")) * dec(col("tn")) -
          dec(col("fp")) * dec(col("fn")))
      .withColumn("__den", sqrt(
        d(dec(col("tp") + col("fp")) * dec(col("tp") + col("fn")) *
          dec(col("tn") + col("fp")) * dec(col("tn") + col("fn")))))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(d(col("__num")) /
          when(col("__den") === 0, lit(null)).otherwise(col("__den")), 4)
          .as("mcc"))
  }

  /** ROC curve points at score-decile thresholds — the operating-
    * characteristic table behind F34's single AUC number: walking
    * down from the top decile, the true-positive rate and false-
    * positive rate of "flag everything above this bin". Where F42's
    * lift speaks in capture share, this speaks in the TPR/FPR terms
    * a threshold review negotiates.
    *
    * Determinism and scale: the F42 machinery — broadcast 4dp decile
    * boundaries, ONE bin combine carrying (n, pos) exact longs,
    * cumulative windows over the ≤10-row bin table; TPR/FPR are
    * single divisions, 4dp.
    *
    * Output: (bin, n, n_pos, tpr, fpr), bin 9 = top scores.
    */
  def rocCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val units = round(col(scoreCol) * 10000).cast("long")
    val rows = df.filter(col(scoreCol).isNotNull)
      .select(units.as("__u"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val bounds = rows
      .agg(percentile(col("__u"), typedLit((1 to 9).map(_ / 10.0))).as("__p"))
      .select(transform(col("__p"), b => round(b, 4)).as("__bs"))
    val all = Window.partitionBy()
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        aggregate(col("__bs"), lit(0),
          (acc, b) => acc + when(col("__u") > b, 1).otherwise(0)))
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .withColumn("__cp", sum(col("n_pos")).over(desc))
      .withColumn("__cn", sum(col("n") - col("n_pos")).over(desc))
      .withColumn("__tp", sum(col("n_pos")).over(all))
      .withColumn("__tn", sum(col("n") - col("n_pos")).over(all))
      .select(col("bin"), col("n"), col("n_pos"),
        round(d(col("__cp")) /
          when(col("__tp") === 0, lit(null)).otherwise(d(col("__tp"))), 4)
          .as("tpr"),
        round(d(col("__cn")) /
          when(col("__tn") === 0, lit(null)).otherwise(d(col("__tn"))), 4)
          .as("fpr"))
  }

  /** Precision–recall curve with average precision — the eval that
    * stays honest under class imbalance, where F51's ROC flatters
    * (FPR hides a rare positive class): per score decile walking
    * down, the precision and recall of "flag above this bin", plus
    * AP = Σ ΔRecall·Precision over the sweep (the step-wise
    * integral, stated).
    *
    * Determinism and scale: the F42 machinery — broadcast 4dp decile
    * boundaries, one bin combine, ≤10-row bin-table windows;
    * precision/recall are single divisions of exact longs; AP sums
    * 6dp per-bin contributions (the F20 contract).
    *
    * Output: (bin, n, n_pos, precision, recall, ap), bin 9 = top.
    */
  def prCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val units = round(col(scoreCol) * 10000).cast("long")
    val rows = df.filter(col(scoreCol).isNotNull)
      .select(units.as("__u"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val bounds = rows
      .agg(percentile(col("__u"), typedLit((1 to 9).map(_ / 10.0))).as("__p"))
      .select(transform(col("__p"), b => round(b, 4)).as("__bs"))
    val all = Window.partitionBy()
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        aggregate(col("__bs"), lit(0),
          (acc, b) => acc + when(col("__u") > b, 1).otherwise(0)))
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .withColumn("__cn", sum(col("n")).over(desc))
      .withColumn("__cp", sum(col("n_pos")).over(desc))
      .withColumn("__tp", sum(col("n_pos")).over(all))
      .withColumn("precision", round(d(col("__cp")) / col("__cn"), 4))
      .withColumn("recall", round(d(col("__cp")) /
        when(col("__tp") === 0, lit(null)).otherwise(d(col("__tp"))), 4))
      .withColumn("__dr",
        col("recall") - coalesce(lag(col("recall"), 1)
          .over(Window.orderBy(col("bin").desc)), lit(0.0)))
      .withColumn("__apc", round(col("__dr") * col("precision"), 6))
      .withColumn("ap", round(sum(col("__apc")).over(all), 4))
      .select(col("bin"), col("n"), col("n_pos"),
        col("precision"), col("recall"), col("ap"))
  }

  /** Best-F1 threshold sweep — the one-number threshold pick a
    * binary filter deploys with: F1 = 2PR/(P+R) per decile cut, and
    * the argmax bin with its precision/recall. The decision step
    * after F39 (calibration), F51 (ROC), and the PR curve have
    * described the trade.
    *
    * Determinism: the F42 bin machinery; F1 from 4dp-rounded P and R
    * in identical op order; argmax by (f1 desc, bin) over the ≤10
    * bins. Output: ONE row (best_bin, precision, recall, f1).
    */
  def bestF1Threshold(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame =
    prCurve(df, scoreCol, labelCol)
      .withColumn("__f1", round(
        lit(2.0) * col("precision") * col("recall") /
          when(col("precision") + col("recall") === 0, lit(null))
            .otherwise(col("precision") + col("recall")), 4))
      .withColumn("__rnk", row_number().over(
        Window.orderBy(col("__f1").desc_nulls_last, col("bin").desc)))
      .filter(col("__rnk") === 1)
      .select(col("bin").as("best_bin"),
        col("precision"), col("recall"), col("__f1").as("f1"))

  /** Qini / uplift curve — the targeting eval for EXPERIMENTS
    * (Radcliffe 2007): rank subjects by a model score, walk down
    * from the top decile, and report the INCREMENTAL conversions —
    * cum(treated converts) − cum(control converts)·Nt/Nc — the curve
    * that says "does the score find the people the TREATMENT
    * actually moves", which F42's single-arm lift cannot ask.
    *
    * Determinism and scale: the F42 machinery on a (subject, score,
    * arm, outcome) frame — broadcast 4dp decile boundaries, one bin
    * combine carrying four exact-long states, cumulative windows
    * over the ≤10-row bin table; qini and the uplift-rate gap are
    * single expressions of exact longs, 4dp.
    *
    * Output: (bin, n_treat, n_ctrl, conv_treat, conv_ctrl, qini,
    * uplift), bin 9 = top scores.
    */
  def qiniCurve(
      df: DataFrame,
      scoreCol: String,
      treatCol: String,
      outcomeCol: String): DataFrame = {
    val units = round(col(scoreCol) * 10000).cast("long")
    val rows = df.filter(col(scoreCol).isNotNull)
      .select(units.as("__u"),
        col(treatCol).cast("boolean").as("__t"),
        when(col(outcomeCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val bounds = rows
      .agg(percentile(col("__u"), typedLit((1 to 9).map(_ / 10.0))).as("__p"))
      .select(transform(col("__p"), b => round(b, 4)).as("__bs"))
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        aggregate(col("__bs"), lit(0),
          (acc, b) => acc + when(col("__u") > b, 1).otherwise(0)))
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_treat"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("__t"), col("__y")).otherwise(0L)).as("conv_treat"),
        sum(when(!col("__t"), col("__y")).otherwise(0L)).as("conv_ctrl"))
      .withColumn("__cnt", sum(col("n_treat")).over(desc))
      .withColumn("__cnc", sum(col("n_ctrl")).over(desc))
      .withColumn("__cpt", sum(col("conv_treat")).over(desc))
      .withColumn("__cpc", sum(col("conv_ctrl")).over(desc))
      .select(col("bin"), col("n_treat"), col("n_ctrl"),
        col("conv_treat"), col("conv_ctrl"),
        round(d(col("__cpt")) - d(col("__cpc")) *
          when(col("__cnc") === 0, lit(null))
            .otherwise(d(col("__cnt")) / d(col("__cnc"))), 4).as("qini"),
        round(d(col("__cpt")) /
          when(col("__cnt") === 0, lit(null)).otherwise(d(col("__cnt"))) -
          d(col("__cpc")) /
            when(col("__cnc") === 0, lit(null)).otherwise(d(col("__cnc"))), 4)
          .as("uplift"))
  }

  /** Robust outlier listing per group — the rows themselves, not
    * just F17's dispersion summary: modified z = 0.6745·(x−med)/MAD
    * (Iglewicz & Hoaglin 1993), flagged past 3.5. The triage list a
    * data-quality review actually opens.
    *
    * Determinism: group medians and MADs are interpolated
    * percentiles ROUNDED 4dp (the F14 threshold contract) and
    * broadcast back; the modified z is one double expression of the
    * integer cents against those published thresholds, rounded 4dp,
    * and the keep test runs on the rounded value. Scale shape: two
    * group-grain percentile aggregates (map-side combined) + one
    * filter pass — three scans, no window, no self-join.
    *
    * Output: (keys..., id, value, mz) for |mz| > 3.5.
    */
  def madOutliers(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      idCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select((keys.map(col) :+ col(idCol) :+ cents(col(valueCol)).as("__c")): _*)
    val med = base.groupBy(keys.map(col): _*)
      .agg(round(percentile(col("__c"), lit(0.5)), 4).as("__med"))
    val mad = base.join(broadcast(med), keys)
      .groupBy(keys.map(col): _*)
      .agg(round(percentile(abs(d(col("__c")) - col("__med")), lit(0.5)), 4)
        .as("__mad"))
    base.join(broadcast(med), keys).join(broadcast(mad), keys)
      .filter(col("__mad") > 0)
      .withColumn("mz", round(
        lit(0.6745) * (d(col("__c")) - col("__med")) / col("__mad"), 4))
      .filter(abs(col("mz")) > 3.5)
      .select(keys.map(col) ++ Seq(col(idCol),
        round(d(col("__c")) / 100.0, 4).as("value"), col("mz")): _*)
  }

  /** Cumulative gains / lift curve — the targeting report: rank the
    * population by model score, walk down from the TOP decile, and
    * report what share of all positives each cumulative slice
    * captures (gain) and how much better than random that is (lift).
    * The companion to F39's calibration: ECE says "are the
    * probabilities honest", lift says "does the ORDERING find the
    * positives".
    *
    * Determinism and scale: scores quantize to exact 1e-4 units; the
    * nine decile boundaries come from one interpolated-percentile
    * aggregate rounded 4dp and broadcast (the I25 binning — value
    * deciles, stated, never a corpus-grain ntile sort); per-bin
    * counts are one map-side combine; cumulative/total windows ride
    * the ≤10-row bin table; gain and lift are single divisions of
    * exact longs, 4dp.
    *
    * Output: (bin, n, n_pos, cum_n, cum_pos, gain, lift), bin 9 =
    * top scores.
    */
  def liftCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val units = round(col(scoreCol) * 10000).cast("long")
    val rows = df.filter(col(scoreCol).isNotNull)
      .select(units.as("__u"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val bounds = rows
      .agg(percentile(col("__u"), typedLit((1 to 9).map(_ / 10.0))).as("__p"))
      .select(transform(col("__p"), b => round(b, 4)).as("__bs"))
    val all = Window.partitionBy()
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        aggregate(col("__bs"), lit(0),
          (acc, b) => acc + when(col("__u") > b, 1).otherwise(0)))
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
      .withColumn("cum_n", sum(col("n")).over(desc))
      .withColumn("cum_pos", sum(col("n_pos")).over(desc))
      .withColumn("__tn", sum(col("n")).over(all))
      .withColumn("__tp", sum(col("n_pos")).over(all))
      .select(col("bin"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        round(d(col("cum_pos")) /
          when(col("__tp") === 0, lit(null)).otherwise(d(col("__tp"))), 4)
          .as("gain"),
        round((d(col("cum_pos")) / col("cum_n")) /
          when(col("__tp") === 0, lit(null))
            .otherwise(d(col("__tp")) / col("__tn")), 4).as("lift"))
  }

  /** Sample-ratio-mismatch check — the first gate of every A/B
    * readout (Fabijan et al. 2019): does the observed arm split
    * match the intended allocation? A significant χ² here means the
    * assignment or logging pipeline is broken and every downstream
    * metric comparison is invalid. One-df χ² against the expected
    * shares, flagged at the 0.05 critical value 3.8415.
    *
    * Exactness: arm counts from ONE aggregate; expected counts and
    * χ² are doubles over exact longs in identical op order; the flag
    * tests the 4dp-ROUNDED χ² so the boundary is engine-portable.
    *
    * Output: one row (n_a, n_b, ratio, chi2, srm).
    */
  def srmCheck(
      df: DataFrame,
      groupCol: String,
      armA: String,
      armB: String,
      expectedShareA: Double = 0.5): DataFrame = {
    require(expectedShareA > 0 && expectedShareA < 1)
    df.filter(col(groupCol).isin(armA, armB))
      .agg(
        sum(when(col(groupCol) === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(groupCol) === armB, 1L).otherwise(0L)).as("n_b"))
      .filter(col("n_a") + col("n_b") > 0)
      .withColumn("__ea", d(col("n_a") + col("n_b")) * expectedShareA)
      .withColumn("__eb", d(col("n_a") + col("n_b")) * (1.0 - expectedShareA))
      .withColumn("chi2", round(
        (d(col("n_a")) - col("__ea")) * (d(col("n_a")) - col("__ea")) / col("__ea") +
          (d(col("n_b")) - col("__eb")) * (d(col("n_b")) - col("__eb")) / col("__eb"), 4))
      .select(col("n_a"), col("n_b"),
        round(d(col("n_a")) / d(col("n_a") + col("n_b")), 4).as("ratio"),
        col("chi2"), (col("chi2") > 3.8415).as("srm"))
  }

  /** STL-lite additive seasonal decomposition per keyed series —
    * trend via a centered ±halfWindow moving average, seasonal
    * effect per calendar phase (x mod period) from the detrended
    * series, residual spread per key: the "is the weekly pattern
    * real and how much is left over" report between D11's seasonal
    * index (share-based) and a full STL (loess, iterative).
    *
    * Determinism: the trend is ONE double division of exact long
    * window sums, quantized to integer micro-units (the D18
    * contract); detrended values, seasonal means, and residuals stay
    * in exact micro-int arithmetic (sums in decimal(38,0) — squares
    * of micro-units overflow longs); each output is one 4dp
    * division. Edge rows average their PARTIAL window (rows-framed,
    * both engines identically). yCol is quantized to the nearest
    * integer unit up front (round, not truncate) — the contract is
    * integer-valued series (counts); fractional series round loudly
    * rather than silently truncating.
    *
    * Scale shape: trend + detrend ride ONE (keys) exchange; the
    * frame is eager-cut (feeds the seasonal combine AND the residual
    * pass); seasonal effects attach back as a broadcast (keys ×
    * period dim); residual spread is a keys-grain combine.
    *
    * Output: (keys..., phase, n, seasonal, resid_sd).
    */
  def seasonalDecompose(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      period: Int = 7,
      halfWindow: Int = 3): DataFrame = {
    require(period >= 2 && halfWindow >= 1)
    val byKey = Window.partitionBy(keys.map(col): _*)
    val fr = byKey.orderBy(col(xCol)).rowsBetween(-halfWindow, halfWindow)
    val base = series
      .withColumn("__tu",
        round(d(sum(round(col(yCol)).cast("long")).over(fr)) /
          count(lit(1)).over(fr) * 1e6).cast("long"))
      .withColumn("__du", round(col(yCol)).cast("long") * 1000000L - col("__tu"))
      .withColumn("phase", pmod(col(xCol).cast("long"), lit(period.toLong)))
      .localCheckpoint()
    val seas = base
      .groupBy((keys.map(col) :+ col("phase")): _*)
      .agg(count(lit(1)).as("n"), sum(dec(col("__du"))).as("__sd"))
      .withColumn("__su", round(d(col("__sd")) / col("n")).cast("long"))
    val resid = base
      .join(broadcast(seas.select(
        (keys.map(col) :+ col("phase") :+ col("__su")): _*)),
        keys :+ "phase")
      .withColumn("__r", dec(col("__du") - col("__su")))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__rn"), sum(col("__r")).as("__rs"),
        sum(col("__r") * col("__r")).as("__rq"))
      .withColumn("resid_sd",
        when(col("__rn") > 1, round(sqrt(
          (d(col("__rq")) - d(col("__rs")) * d(col("__rs")) / col("__rn")) /
            (col("__rn") - 1)) / 1e6, 4)))
      .select((keys.map(col) :+ col("resid_sd")): _*)
    seas.join(broadcast(resid), keys)
      .select(keys.map(col) ++ Seq(col("phase"), col("n"),
        // integer-grain publish (the q321 halfway-flip contract)
        (round(d(col("__su")) / 100.0).cast("long") / 10000.0)
          .as("seasonal"), col("resid_sd")): _*)
  }

  /** STL-based anomaly days — the detector D19's decomposition
    * exists to feed: a point is anomalous when its residual (after
    * removing trend AND seasonal effect) exceeds nSigma residual
    * standard deviations. Level shifts and spikes surface; ordinary
    * weekly rhythm does not — the upgrade over D4's plain rolling
    * z-score for seasonal series.
    *
    * Determinism: D19's exact micro-int pipeline end to end; the
    * keep test compares the 4dp-ROUNDED residual against nSigma ×
    * the 4dp-published resid_sd (the F14 contract). Same eager-cut +
    * broadcast shape as D19, plus one filter pass.
    *
    * Output: (keys..., x, y, expected, resid) for flagged points.
    */
  def seasonalAnomalies(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      period: Int = 7,
      halfWindow: Int = 3,
      nSigma: Double = 3.0): DataFrame = {
    require(period >= 2 && halfWindow >= 1 && nSigma > 0)
    val byKey = Window.partitionBy(keys.map(col): _*)
    val fr = byKey.orderBy(col(xCol)).rowsBetween(-halfWindow, halfWindow)
    val base = series
      .withColumn("__tu",
        round(d(sum(round(col(yCol)).cast("long")).over(fr)) /
          count(lit(1)).over(fr) * 1e6).cast("long"))
      .withColumn("__du", round(col(yCol)).cast("long") * 1000000L - col("__tu"))
      .withColumn("phase", pmod(col(xCol).cast("long"), lit(period.toLong)))
      .localCheckpoint()
    val seas = base
      .groupBy((keys.map(col) :+ col("phase")): _*)
      .agg(sum(dec(col("__du"))).as("__sd"), count(lit(1)).as("__pn"))
      .select((keys.map(col) :+ col("phase") :+
        round(d(col("__sd")) / col("__pn")).cast("long").as("__su")): _*)
    val withSeas = base.join(broadcast(seas), keys :+ "phase")
      .withColumn("__r", dec(col("__du") - col("__su")))
      .localCheckpoint()
    val sd = withSeas
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__rn"), sum(col("__r")).as("__rs"),
        sum(col("__r") * col("__r")).as("__rq"))
      .filter(col("__rn") > 1)
      .select(keys.map(col) :+ round(sqrt(
        (d(col("__rq")) - d(col("__rs")) * d(col("__rs")) / col("__rn")) /
          (col("__rn") - 1)) / 1e6, 4).as("__sd4"): _*)
    withSeas.join(broadcast(sd), keys)
      .withColumn("resid",
        round(d(col("__r")) / 100.0).cast("long") / 10000.0)
      .filter(col("__sd4") > 0 && abs(col("resid")) > lit(nSigma) * col("__sd4"))
      .select(keys.map(col) ++ Seq(col(xCol), col(yCol),
        (round((d(col("__tu")) + d(col("__su"))) / 100.0).cast("long")
          / 10000.0).as("expected"),
        col("resid")): _*)
  }

  /** Trend/seasonal STRENGTH per keyed series (Hyndman &
    * Athanasopoulos, fpp3 §4.4): F_T = max(0, 1 − Var(R)/Var(T+R)),
    * F_S = max(0, 1 − Var(R)/Var(S+R)) over D19's decomposition —
    * the forecastability triage that reduces q230's component table
    * to two comparable [0,1] scores per series (route strong-F_S
    * series to seasonal models; near-zero both means the series is
    * noise and a naive forecast is already optimal).
    *
    * Determinism: D19's exact micro-int components end to end; the
    * three variances are decimal-moment rollups of ONE frame with the
    * same centered-moment expression (the common n divisor cancels in
    * the ratio), each strength one written-order double, 4dp. Scale shape: D19's (eager-cut base + broadcast
    * seasonal dim) plus a single keys-grain moment aggregate.
    *
    * Output: (keys..., n_points, trend_strength, seasonal_strength) —
    * null strength when the denominator variance vanishes.
    */
  def seasonalStrength(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      period: Int = 7,
      halfWindow: Int = 3): DataFrame = {
    require(period >= 2 && halfWindow >= 1)
    val byKey = Window.partitionBy(keys.map(col): _*)
    val fr = byKey.orderBy(col(xCol)).rowsBetween(-halfWindow, halfWindow)
    val base = series
      .withColumn("__tu",
        round(d(sum(round(col(yCol)).cast("long")).over(fr)) /
          count(lit(1)).over(fr) * 1e6).cast("long"))
      .withColumn("__du", round(col(yCol)).cast("long") * 1000000L - col("__tu"))
      .withColumn("phase", pmod(col(xCol).cast("long"), lit(period.toLong)))
      .localCheckpoint()
    val seas = base
      .groupBy((keys.map(col) :+ col("phase")): _*)
      .agg(sum(dec(col("__du"))).as("__sd"), count(lit(1)).as("__pn"))
      .select((keys.map(col) :+ col("phase") :+
        round(d(col("__sd")) / col("__pn")).cast("long").as("__su")): _*)
    def strength(q: Column, s: Column, rq: Column, rs: Column, n: Column) = {
      val varX = d(q) - d(s) * d(s) / n
      val varR = d(rq) - d(rs) * d(rs) / n
      // the null gate stays OUTSIDE greatest: both engines' greatest()
      // skips nulls, so greatest(0, null) would silently publish 0.0
      round(when(varX <= 0, lit(null))
        .otherwise(greatest(lit(0.0), lit(1.0) - varR / varX)), 4)
    }
    base.join(broadcast(seas), keys :+ "phase")
      .withColumn("__r", dec(col("__du") - col("__su")))
      .withColumn("__sr", dec(col("__du")))
      .withColumn("__tr",
        dec(round(col(yCol)).cast("long") * 1000000L - col("__su")))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_points"),
        sum(col("__r")).as("__rs"), sum(col("__r") * col("__r")).as("__rq"),
        sum(col("__sr")).as("__ss"), sum(col("__sr") * col("__sr")).as("__sq"),
        sum(col("__tr")).as("__ts"), sum(col("__tr") * col("__tr")).as("__tq"))
      .filter(col("n_points") > 1)
      .select(keys.map(col) ++ Seq(
        col("n_points"),
        strength(col("__tq"), col("__ts"), col("__rq"), col("__rs"),
          col("n_points")).as("trend_strength"),
        strength(col("__sq"), col("__ss"), col("__rq"), col("__rs"),
          col("n_points")).as("seasonal_strength")): _*)
  }

  /** Expected calibration error — the scalar that scores a
    * [0,1]-confidence column against binary outcomes (Guo et al.
    * 2017's ECE): bin by confidence decile, and sum each bin's
    * population-weighted |accuracy − mean confidence|. The G62
    * reliability diagram reduced to the number a filter-threshold
    * review gates on.
    *
    * Determinism: confidences quantize to integer 1e-4 units (exact
    * for G8's quality, which IS integer/10⁴); per-bin accuracy and
    * mean confidence are exact ratios of longs; each contribution is
    * one double expression rounded 6dp, the ECE their 4dp total over
    * the ≤10-row bin table (the F20/I25 contract). Scale shape: one
    * corpus scan, one map-side-combined bin aggregate, bin-table
    * windows only.
    *
    * Output: (bin, n, conf_avg, acc, contrib, ece).
    */
  def calibrationError(
      df: DataFrame,
      confCol: String,
      labelCol: String): DataFrame = {
    val all = Window.partitionBy()
    df.filter(col(confCol).isNotNull)
      .select(
        least(floor(col(confCol) * 10).cast("long"), lit(9L)).as("bin"),
        round(col(confCol) * 10000).cast("long").as("__cu"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("__cu")).as("__sc"),
        sum(col("__y")).as("__hits"))
      .withColumn("__N", sum(col("n")).over(all))
      .withColumn("__conf", d(col("__sc")) / col("n") / 10000.0)
      .withColumn("__acc", d(col("__hits")) / col("n"))
      .withColumn("contrib",
        round(d(col("n")) / col("__N") * abs(col("__acc") - col("__conf")), 6))
      .withColumn("ece", round(sum(col("contrib")).over(all), 4))
      .select(col("bin"), col("n"),
        round(col("__conf"), 4).as("conf_avg"),
        round(col("__acc"), 4).as("acc"),
        col("contrib"), col("ece"))
  }

  /** Gini concentration of an additive mass column — how unequally a
    * corpus's character/token/byte mass is spread across its rows
    * (Gini 1912 via the grouped-data rank form): G = (2·Σᵢ i·x₍ᵢ₎ −
    * (n+1)·Σx)/(n·Σx). G→0 means uniform docs, G→1 means a few
    * giants carry the corpus — the sizing diagnostic for packing
    * (G25) and per-doc token budgets (G52).
    *
    * Exactness at scale: the corpus collapses to VALUE grain with
    * counts; within a tie-run of c equal values starting after
    * cum_before rows, Σᵢ i·x = v·(c·cum_before + c(c+1)/2) in closed
    * form — so the rank weighting needs no corpus-grain window, only
    * the F25/F27 cumulative window over DISTINCT values. All three
    * totals accumulate in decimal(38,0) (the D9 overflow contract);
    * G is one double expression at the end, 4dp.
    *
    * Output: one row (n, total, gini).
    */
  def giniConcentration(df: DataFrame, valueCol: String): DataFrame = {
    val pts = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    grainGuarded(pts, cumRows, "giniConcentration")
      .withColumn("__cb", sum(col("c")).over(cumRows) - col("c"))
      .withColumn("__s",
        dec(col("v")) * (dec(col("c")) * dec(col("__cb")) +
          dec(expr("(c * (c + 1)) div 2"))))
      .agg(
        sum(col("c")).as("n"),
        sum(dec(col("v")) * dec(col("c"))).as("__T"),
        sum(col("__s")).as("__S"))
      .select(col("n"),
        col("__T").cast("long").as("total"),
        round((lit(2.0) * d(col("__S")) - d(col("n") + 1L) * d(col("__T"))) /
          when(col("n") === 0 || col("__T") === 0, lit(null))
            .otherwise(d(col("n")) * d(col("__T"))), 4).as("gini"))
  }
}
