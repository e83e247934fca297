package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed-series screens split out of [[Rollups]] (shard hygiene — the
  * RollupsEval pattern): randomness/efficiency ratios, drawdown
  * accounting, structural breaks, seasonal trend tests, partial
  * autocorrelation, cointegration. Mixed into the `Rollups` object so
  * call sites read `Rollups.<op>` like every other rollup.
  *
  * All series arrive pre-quantized to INTEGER units (daily counts,
  * cent sums — the D-family contract): every moment below is exact in
  * long/decimal(38,0), and each statistic is ONE pinned double chain.
  */
private[operators] trait RollupsSeries extends RollupsScaleForms {

  /** Bartels rank test of randomness per keyed series (D41) — the
    * rank von Neumann ratio: RVN = Σ(R_t − R_{t+1})² / Σ(R_t − R̄)²
    * over the time-ordered ranks. E[RVN] = 2 under exchangeability;
    * RVN ≪ 2 means neighboring observations rank close (positive
    * serial dependence), RVN ≫ 2 alternation. The rank-based cousin
    * of D17's Durbin–Watson (whose 0–4 geometry it shares), robust to
    * any monotone transform of the level.
    *
    * Exactness: doubled midranks (2·rank + ties − 1, the spearman
    * carrier) make both sums exact integers — Σ(R2_t) = n(n+1)
    * exactly, so the centered denominator collapses to
    * ΣR2² − n(n+1)² with no mean rounding; the 4× scale cancels in
    * the ratio. z = (RVN − 2)/√(4(n−2)/((n+1)(n−1))), 4dp.
    *
    * Scale shape: the rank window and the successor window ride the
    * SAME (keys) exchange; one key-grain combine. O(1) window state.
    *
    * Output: keys ++ (n, rvn, z) — null rvn/z for constant series.
    */
  def bartelsRank(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String): DataFrame = {
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy("__t")
    val base = df.select(keys.map(col) ++ Seq(
      col(tCol).cast("long").as("__t"), col(valCol).cast("long").as("__x")): _*)
      .withColumn("__r2", rowMidrank2(keys.map(col), col("__x")))
      .withColumn("__r2n", lead("__r2", 1).over(wNext))
    base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__r2")) * dec(col("__r2"))).as("__ss"),
        sum(when(col("__r2n").isNotNull,
          dec(col("__r2") - col("__r2n")) *
            dec(col("__r2") - col("__r2n"))).otherwise(dec(lit(0L))))
          .as("__sd"))
      .withColumn("__den",
        col("__ss") - dec(col("n")) * dec(col("n") + 1L) *
          dec(col("n") + 1L))
      .withColumn("__rvn", when(col("__den") > 0, d(col("__sd")) / d(col("__den"))))
      .select(keys.map(col) ++ Seq(col("n"),
        round(col("__rvn"), 4).as("rvn"),
        round(when(col("n") > 2L,
          (col("__rvn") - 2.0) /
            sqrt(lit(4.0) * d(col("n") - 2L) /
              (d(col("n") + 1L) * d(col("n") - 1L)))), 4).as("z")): _*)
  }

  /** Lo–MacKinlay variance ratio per keyed series (D42) — is the
    * series a random walk? VR(q) = Var(q-step diffs)/(q·Var(1-step
    * diffs)): 1 under a random walk, < 1 mean reversion, > 1
    * momentum. The finance-standard efficiency screen beside D40's
    * unit-root τ (DF asks "is there ANY mean reversion", VR measures
    * HOW MUCH at horizon q).
    *
    * Exactness: both diff families pair by TIME ARITHMETIC (t−1,
    * t−q — the ljungBox gap-proof convention, never position lag);
    * each variance is the exact multiply-through m·Σd² − (Σd)², and
    * VR = (vq·m1²)/(q·v1·mq²) is ONE double ratio of exact decimals.
    * z uses the iid-null asymptotic √(2(2q−1)(q−1)/(3q·m1)).
    *
    * Output: keys ++ (n1, nq, vr, z) — null when either variance
    * degenerates.
    */
  def varianceRatio(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String,
      q: Int = 5): DataFrame = {
    require(q >= 2)
    val base = df.select(keys.map(col) ++ Seq(
      col(tCol).cast("long").as("__t"), col(valCol).cast("long").as("__x")): _*)
      .localCheckpoint() // feeds both diff joins
    val part = base.select(
      (keys.map(col) :+ col("__t").as("__tp") :+ col("__x").as("__xp")): _*)
    def diffs(k: Int, tag: String): DataFrame = base
      .withColumn("__tp", col("__t") - k.toLong)
      .join(part, (keys :+ "__tp").toSeq)
      .withColumn("__d", col("__x") - col("__xp"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(s"__m$tag"),
        sum(dec(col("__d"))).as(s"__s$tag"),
        sum(dec(col("__d")) * dec(col("__d"))).as(s"__ss$tag"))
    val v1 = dec(col("__m1")) * col("__ss1") - col("__s1") * col("__s1")
    val vq = dec(col("__mq")) * col("__ssq") - col("__sq") * col("__sq")
    diffs(1, "1").join(diffs(q, "q"), keys)
      .withColumn("__vr",
        when(v1 > 0 && col("__mq") > 1L,
          d(vq * dec(col("__m1")) * dec(col("__m1"))) /
            (lit(q.toDouble) * d(v1 * dec(col("__mq")) *
              dec(col("__mq"))))))
      .select(keys.map(col) ++ Seq(
        col("__m1").as("n1"), col("__mq").as("nq"),
        round(col("__vr"), 4).as("vr"),
        round((col("__vr") - 1.0) /
          sqrt(lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)) / d(col("__m1"))), 4)
          .as("z")): _*)
  }

  /** Chow structural-break test per keyed series (D44) — did the
    * linear trend CHANGE at the series midpoint: fit OLS x-on-t to
    * each half and pooled, F = ((RSS_p − RSS₁ − RSS₂)/2) /
    * ((RSS₁+RSS₂)/(n−4)). The "did the regime shift" companion to
    * D16's single-changepoint LOCATION search — Chow TESTS a known
    * break (here the midpoint, the standard default) with a real
    * F-geometry instead of a scan.
    *
    * Exactness: t recenters to the per-key min (small integers);
    * every segment RSS is the exact-integer ratio
    * (C_yy·C_xx − C_xy²)/(m·C_xx) — products stay in decimal(38,0),
    * ONE double division each; F is one pinned chain, 4dp.
    *
    * Scale shape: one key-grain extent combine broadcast back, one
    * (key, segment) moment combine, one key-grain reduce.
    *
    * Output: keys ++ (n, break_t, rss_pooled, rss_split, f_chow) —
    * null F when a segment degenerates (m < 3 or constant t).
    */
  def chowTest(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String): DataFrame = {
    val base = df.select(keys.map(col) ++ Seq(
      col(tCol).cast("long").as("__t"), col(valCol).cast("long").as("__y")): _*)
      .localCheckpoint() // feeds the extent probe and the moment pass
    val ext = base.groupBy(keys.map(col): _*)
      .agg(min("__t").as("__tmin"), max("__t").as("__tmax"))
      .withColumn("__tbrk", (col("__tmin") + col("__tmax")).divide(2)
        .cast("long"))
    val seg = base.join(broadcast(ext), keys)
      .withColumn("__tr", col("__t") - col("__tmin"))
      .withColumn("__s", when(col("__t") <= col("__tbrk"), 1).otherwise(2))
    def moments(g: DataFrame, gk: Seq[String]): DataFrame = g
      .groupBy(gk.map(col): _*)
      .agg(count(lit(1)).as("__m"),
        sum(dec(col("__tr"))).as("__st"),
        sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__tr")) * col("__tr")).as("__stt"),
        sum(dec(col("__tr")) * col("__y")).as("__sty"),
        sum(dec(col("__y")) * col("__y")).as("__syy"))
    // RSS numerator/denominator as exact decimals; null when C_tt = 0
    def rss(pre: String): Column = {
      val m = dec(col(s"${pre}m"))
      val ctt = m * col(s"${pre}stt") - col(s"${pre}st") * col(s"${pre}st")
      val cty = m * col(s"${pre}sty") - col(s"${pre}st") * col(s"${pre}sy")
      val cyy = m * col(s"${pre}syy") - col(s"${pre}sy") * col(s"${pre}sy")
      when(ctt > 0 && col(s"${pre}m") >= 3L,
        d(cyy * ctt - cty * cty) / d(m * ctt))
    }
    val perSeg = moments(seg, keys :+ "__s")
    val wide = perSeg.groupBy(keys.map(col): _*).agg(
      sum("__m").as("__pm"),
      sum("__st").as("__pst"), sum("__sy").as("__psy"),
      sum("__stt").as("__pstt"), sum("__sty").as("__psty"),
      sum("__syy").as("__psyy"),
      max(when(col("__s") === 1, col("__m"))).as("__am"),
      max(when(col("__s") === 1, col("__st"))).as("__ast"),
      max(when(col("__s") === 1, col("__sy"))).as("__asy"),
      max(when(col("__s") === 1, col("__stt"))).as("__astt"),
      max(when(col("__s") === 1, col("__sty"))).as("__asty"),
      max(when(col("__s") === 1, col("__syy"))).as("__asyy"),
      max(when(col("__s") === 2, col("__m"))).as("__bm"),
      max(when(col("__s") === 2, col("__st"))).as("__bst"),
      max(when(col("__s") === 2, col("__sy"))).as("__bsy"),
      max(when(col("__s") === 2, col("__stt"))).as("__bstt"),
      max(when(col("__s") === 2, col("__sty"))).as("__bsty"),
      max(when(col("__s") === 2, col("__syy"))).as("__bsyy"))
    wide
      .withColumn("__rssp", rss("__p"))
      .withColumn("__rssa", rss("__a"))
      .withColumn("__rssb", rss("__b"))
      .join(broadcast(ext.select(keys.map(col) :+ col("__tbrk"): _*)), keys)
      .select(keys.map(col) ++ Seq(
        col("__pm").cast("long").as("n"), col("__tbrk").as("break_t"),
        round(col("__rssp"), 4).as("rss_pooled"),
        round(col("__rssa") + col("__rssb"), 4).as("rss_split"),
        round(when(col("__rssa") + col("__rssb") > 0 && col("__pm") > 4L,
          ((col("__rssp") - col("__rssa") - col("__rssb")) / 2.0) /
            ((col("__rssa") + col("__rssb")) / d(col("__pm") - 4L))), 4)
          .as("f_chow")): _*)
  }

  /** Partial autocorrelation φ₁₁..φ₃₃ per keyed series (D46) — the
    * AR-order fingerprint: ACF says "correlated at lag k", PACF says
    * "correlated at lag k AFTER regressing out lags 1..k−1" — an
    * AR(p) process cuts off after φ_pp, which is how the Box–Jenkins
    * order choice is read. Closed-form Durbin–Levinson on the first
    * three ACF values: φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₂₁ = r₁(1−φ₂₂),
    * φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)/(1 − φ₂₁r₁ − φ₂₂r₂).
    *
    * Exactness: each r_k is the ljungBox one-mean multiply-through —
    * ONE double ratio of exact decimal sums with gap-proof
    * time-arithmetic lag pairing; the recursion is a pinned double
    * chain on those identical inputs. 4dp only at the projection.
    *
    * Output: keys ++ (n, phi1, phi2, phi3) — nulls cascade from
    * degenerate denominators.
    */
  def pacf(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String): DataFrame = {
    val maxLag = 3
    val base = df
      .select(keys.map(col) ++ Seq(col(tCol).cast("long").as("__t"),
        col(valCol).cast("long").as("__x")): _*)
      .localCheckpoint()
    val tot = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__x"))).as("__sx"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"))
    val part = base.select(
      (keys.map(col) :+ col("__t").as("__tp") :+ col("__x").as("__xp")): _*)
    val perLag = base
      .select(keys.map(col) ++ Seq(col("__t"), dec(col("__x")).as("__xc"),
        explode(array((1 to maxLag).map(k => lit(k.toLong)): _*)).as("__k")): _*)
      .withColumn("__tp", col("__t") - col("__k"))
      .join(part, (keys :+ "__tp").toSeq)
      .groupBy(keys.map(col) :+ col("__k"): _*)
      .agg(dec(count(lit(1))).as("__m"),
        sum(col("__xc") * dec(col("__xp"))).as("__sxy"),
        sum(col("__xc")).as("__sxt"),
        sum(dec(col("__xp"))).as("__sxp"))
    val n = dec(col("__n"))
    val num = n * n * col("__sxy") -
      n * col("__sx") * (col("__sxt") + col("__sxp")) +
      col("__m") * col("__sx") * col("__sx")
    val den = n * (n * col("__sxx") - col("__sx") * col("__sx"))
    val rhos = perLag
      .join(tot, keys)
      .withColumn("__rho", when(den > 0, d(num) / d(den)))
      .groupBy(keys.map(col): _*)
      .agg(max("__n").as("n"),
        max(when(col("__k") === 1L, col("__rho"))).as("__r1"),
        max(when(col("__k") === 2L, col("__rho"))).as("__r2"),
        max(when(col("__k") === 3L, col("__rho"))).as("__r3"))
    rhos
      .withColumn("__p22",
        when(abs(lit(1.0) - col("__r1") * col("__r1")) > 0,
          (col("__r2") - col("__r1") * col("__r1")) /
            (lit(1.0) - col("__r1") * col("__r1"))))
      .withColumn("__p21", col("__r1") * (lit(1.0) - col("__p22")))
      .withColumn("__d3",
        lit(1.0) - col("__p21") * col("__r1") - col("__p22") * col("__r2"))
      .select(keys.map(col) ++ Seq(col("n"),
        round(col("__r1"), 4).as("phi1"),
        round(col("__p22"), 4).as("phi2"),
        round(when(abs(col("__d3")) > 0,
          (col("__r3") - col("__p21") * col("__r2") -
            col("__p22") * col("__r1")) / col("__d3")), 4).as("phi3")): _*)
  }

  /** Engle–Granger cointegration screen for one series pair (D47) —
    * do two trending series share ONE stochastic trend: OLS y-on-x,
    * then the D40 Dickey–Fuller τ on the residual. Stationary
    * residual (τ below the EG critical values, ≈ −3.37 at 5%) means
    * the spread mean-reverts — the pairs-trading / shared-driver
    * test that correlation (which integrated series fake) cannot be.
    *
    * Exactness: β = C_xy/C_xx from exact decimals; the residual is
    * carried SCALED-EXACT — E_t = C_xx(n·y_t − S_y) − C_xy(n·x_t −
    * S_x) = n·C_xx·e_t in decimal(38,0) — then quantized once to
    * integer micro-units via the engine-identical floor(E/(n·C_xx)
    * ·1e6 + 0.5) (decimal→double casts are IEEE-deterministic), and
    * the DF regression runs on those exact integers via
    * [[RollupsInference.dickeyFuller]].
    *
    * Output: one row (n, beta, alpha, gamma, tau).
    */
  def engleGranger(
      df: DataFrame,
      tCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    // no checkpoint: the caller's series IS an aggregate (day grain),
    // and PlanLint must SEE that aggregate below the DF lag window to
    // classify the residual frame grain-collapsed; the dual read
    // (moments + residuals) recomputes a key-grain combine — cheap
    val base = df.select(col(tCol).cast("long").as("__t"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val m = base.agg(count(lit(1)).as("__n"),
      sum(dec(col("__x"))).as("__sx"),
      sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x")) * col("__x")).as("__sxx"),
      sum(dec(col("__x")) * col("__y")).as("__sxy"))
      .withColumn("__cxx",
        dec(col("__n")) * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__cxy",
        dec(col("__n")) * col("__sxy") - col("__sx") * col("__sy"))
    val res = base.crossJoin(broadcast(m))
      .filter(col("__cxx") > 0)
      .withColumn("__e",
        col("__cxx") * (dec(col("__n")) * col("__y") - col("__sy")) -
          col("__cxy") * (dec(col("__n")) * col("__x") - col("__sx")))
      .withColumn("__ru",
        floor(d(col("__e")) / d(dec(col("__n")) * col("__cxx")) * 1e6 +
          0.5).cast("long"))
      .withColumn("__k", lit(1))
    val df0 = Rollups.dickeyFuller(res, Seq("__k"), "__t", "__ru")
      .select(col("n").as("__dfn"), col("gamma"), col("tau"))
    // left on true: a degenerate pair (C_xx = 0) still reports its one
    // row, with null gamma/tau
    m.join(broadcast(df0), lit(true), "left")
      .select(col("__n").as("n"),
        round(when(col("__cxx") > 0, d(col("__cxy")) / d(col("__cxx"))), 4)
          .as("beta"),
        round(when(col("__cxx") > 0,
          (d(col("__sy")) - (d(col("__cxy")) / d(col("__cxx"))) *
            d(col("__sx"))) / d(col("__n"))), 4).as("alpha"),
        col("gamma"), col("tau"))
  }

  /** Seasonal Mann–Kendall trend test per keyed series (D45, Hirsch &
    * Slack 1984) — D23's S statistic computed WITHIN each season
    * (t mod `period`) and pooled: S = ΣS_s, Var = ΣVar_s. A weekly
    * cycle turns plain MK into noise (every Monday→Sunday comparison
    * votes on the cycle, not the trend); comparing only
    * like-with-like days removes the cycle without estimating it —
    * the trend gate to run when D11/D24 say seasonality exists.
    *
    * Exactness: the D23 contract per (keys, season) — exact ±1 pair
    * fold over the sorted per-season array, exact tie-corrected
    * variance sums, one continuity-corrected z, 4dp.
    *
    * Scale shape: series live at key grain; the pair fold is in-row
    * over per-season arrays (day-grain bounded); one (keys, season)
    * combine then a key-grain reduce.
    *
    * Output: keys ++ (n_points, n_seasons, s_stat, var_s, z).
    */
  def seasonalMannKendall(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 2)
    val s0 = df
      .select((keys.map(col) :+ col(tCol).cast("long").as("__x") :+
        col(valCol).cast("long").as("__y")): _*)
      .withColumn("__season", pmod(col("__x"), lit(period.toLong)))
      .localCheckpoint() // feeds the pair fold AND the tie rollup
    val sk = keys :+ "__season"
    val arr = s0
      .groupBy(sk.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__x").as("x"), col("__y").as("y"))))
        .as("__a"), count(lit(1)).as("__np"))
      .withColumn("__s", aggregate(
        flatten(transform(col("__a"), (p, i) =>
          transform(slice(col("__a"), i + lit(2), size(col("__a"))), q =>
            signum(q.getField("y") - p.getField("y")).cast("long")))),
        lit(0L), (acc, x) => acc + x))
    val ties = s0
      .groupBy((sk :+ "__y").map(col): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(sk.map(col): _*)
      .agg(sum(col("__t") * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L))
        .as("__tsum"))
    arr.join(ties, sk)
      .groupBy(keys.map(col): _*)
      .agg(sum("__np").as("n_points"), count(lit(1)).as("n_seasons"),
        sum("__s").as("s_stat"),
        sum(col("__np") * (col("__np") - 1L) * (lit(2L) * col("__np") + 5L) -
          col("__tsum")).as("__vn"))
      .select(keys.map(col) ++ Seq(col("n_points"), col("n_seasons"),
        col("s_stat"),
        round(d(col("__vn")) / 18.0, 4).as("var_s"),
        round(when(col("__vn") <= 0, lit(null))
          .otherwise(when(col("s_stat") > 0, d(col("s_stat") - 1L))
            .when(col("s_stat") < 0, d(col("s_stat") + 1L))
            .otherwise(lit(0.0)) / sqrt(d(col("__vn")) / 18.0)), 4)
          .as("z")): _*)
  }

  /** Maximum drawdown per keyed equity curve (D43) — the worst
    * peak-to-trough fall of the cumulative series: depth (exact
    * integer units), the trough date, the peak it fell from, and the
    * relative depth. The risk number every backtest (D18/D21/D27
    * forecasts, F23 bandits) reports next to its mean return.
    *
    * Exactness: the running peak and drawdown are EXACT integers on
    * one cumulative window; the argmax trough picks the EARLIEST
    * trough of the deepest fall via one struct max (dd, −t, peak) —
    * deterministic on both engines. Only dd_frac divides, 4dp.
    *
    * Scale shape: one (keys) exchange carries the cumulative sum,
    * running max, and the final combine. O(1) window state.
    *
    * Output: keys ++ (n, final_level, max_dd, peak_at_trough,
    * trough_t, dd_frac).
    */
  def maxDrawdown(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      flowCol: String): DataFrame = {
    val wCum = Window.partitionBy(keys.map(col): _*).orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.select(keys.map(col) ++ Seq(
      col(tCol).cast("long").as("__t"), col(flowCol).cast("long").as("__f")): _*)
      .withColumn("__cum", sum("__f").over(wCum))
      .withColumn("__peak", max("__cum").over(wCum))
      .withColumn("__dd", col("__peak") - col("__cum"))
    base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        max(struct(col("__t"), col("__cum"))).getField("__cum")
          .as("final_level"),
        max("__dd").as("max_dd"),
        max(struct(col("__dd"), (-col("__t")).as("__nt"), col("__peak")))
          .as("__am"))
      .select(keys.map(col) ++ Seq(col("n"), col("final_level"),
        col("max_dd"),
        col("__am").getField("__peak").as("peak_at_trough"),
        (-col("__am").getField("__nt")).as("trough_t"),
        round(when(col("__am").getField("__peak") > 0,
          d(col("max_dd")) / d(col("__am").getField("__peak"))), 4)
          .as("dd_frac")): _*)
  }
}
