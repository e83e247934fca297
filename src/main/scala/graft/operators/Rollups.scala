package graft.operators

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analysis-layer rollups mirroring the reference's
  * novelty_distribution.py / novelty_approval.py query shapes:
  * ranked pick per key (row_number over an ordering — the
  * therapeutic-area selection at novelty_distribution.py:81–98),
  * windowed first/max (novelty_approval.py:374, 405), distinct-count
  * rollups (novelty_distribution.py:499–562) and crosstabs
  * (novelty_distribution.py:746–798).
  */
object Rollups extends RollupsInference with RollupsEval with RollupsScaleForms
    with RollupsSeries with RollupsAgreement {

  /** Keep the top-n rows per key under `order` (deterministic — include
    * a unique tie-breaker in `order`).
    */
  def topRank(df: DataFrame, partCols: Seq[String], order: Seq[Column], n: Int = 1): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy(partCols.map(col): _*).orderBy(order: _*)))
      .filter(col("rank") <= n)

  /** Ranked-dimension pick: left-join a broadcast priority dim on
    * `itemCol`, fill unranked items with `fill` (they must survive, not
    * win — novelty_distribution.py:81–98's `fillna(1000)`), and keep
    * each key's best-ranked item. The reference orders by ranking
    * alone, which is nondeterministic among unranked items; `itemCol`
    * is the tie-break here so results are stable across engines.
    */
  def rankedDimPick(
      df: DataFrame,
      keyCol: String,
      itemCol: String,
      dim: DataFrame,
      rankCol: String,
      fill: Int = 1000): DataFrame =
    df.join(broadcast(dim), Seq(itemCol), "left")
      .na.fill(Map(rankCol -> fill))
      .transform(topRank(_, Seq(keyCol), Seq(col(rankCol), col(itemCol))))
      .drop("rank", rankCol)

  /** Windowed min/max attachments without collapsing rows. */
  def attachWindowAgg(df: DataFrame, partCols: Seq[String], agg: Column, out: String): DataFrame =
    df.withColumn(out, agg.over(Window.partitionBy(partCols.map(col): _*)))

  /** Conditional-aggregation crosstab: one column per pivot value
    * (static pivot list keeps the plan a single aggregate — no
    * two-phase pivot scan).
    */
  def crosstab(df: DataFrame, groupCols: Seq[String], pivotCol: String, values: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        values.head.pipe(v => count(when(col(pivotCol) === v, 1)).as(s"n_$v")),
        values.tail.map(v => count(when(col(pivotCol) === v, 1)).as(s"n_$v")): _*)

  private implicit class Piped[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }

  /** Pairwise datasource correlation of first-peak years — the
    * reference's noveltyCorrelation analysis (analysis.ipynb cell 1),
    * which collects the pair table to the driver and loops scipy
    * pearsonr over every (sourceA, sourceB) product. Re-expressed
    * distributively: first peak year per (pair, source) via the lag
    * window, self-joined on the high-cardinality (disease, target) key
    * (both sides derive from the same aggregate, so the exchange is
    * reused — one chain execution), then `corr` per source pair —
    * an algebraic aggregate with map-side combine, so the ~|sources|²
    * groups never funnel raw rows. r is rounded to 2 dp as the
    * reference does; the scipy p-value (t CDF lookup) is the one
    * driver-side residue, derivable from (r, n) downstream.
    *
    * Output: (datasourceIdA, datasourceIdB, n, r, p_value) for pairs
    * with n ≥ 3 matched (disease, target) keys; r is null when a side
    * has zero year variance (scipy raises there — the reference
    * records None the same way), and p_value is the two-sided
    * Student-t tail scipy.stats.pearsonr reports, computed natively
    * ([[graft.functions.PearsonTwoSidedP]]) from the published r.
    */
  def peakYearCorrelation(
      dense: DataFrame,
      keys: Seq[String] = Seq("diseaseId", "targetId", "datasourceId")): DataFrame =
    correlate(firstPeaks(dense, keys), keys.dropRight(1), keys.last, "peakYear")

  /** The notebook's null-model twin: the same correlation after a
    * deterministic within-source permutation of the peak years
    * ([[Sampling.deterministicPermute]] — hash-ordered rank-to-rank,
    * reproducible across engines, no RNG). Sources stop sharing key
    * structure, so r collapses toward 0 — the baseline the real
    * correlations are read against (analysis.ipynb cell 1's
    * `shuffledYear` columns).
    */
  def peakYearCorrelationShuffled(
      dense: DataFrame,
      keys: Seq[String] = Seq("diseaseId", "targetId", "datasourceId"),
      shards: Int = 16): DataFrame = {
    val pairKeys = keys.dropRight(1)
    val withId = firstPeaks(dense, keys)
      .withColumn("__pid", concat_ws("|", pairKeys.map(col): _*))
    val permuted = Sampling.deterministicPermute(
      withId, Seq(keys.last), "peakYear", "__pid", shards)
    correlate(permuted, pairKeys, keys.last, "peakYear_permuted")
  }

  /** Approximate quantiles from a fixed-width histogram — the
    * constant-state alternative to exact percentiles when the value
    * domain is known: counts per (group, bin) via groupBy (map-side
    * combine; state is groups × `bins` REGARDLESS of input size,
    * where the exact formulation sorts every value), then linear
    * interpolation inside the bin the target rank falls in. Every
    * step is closed-form arithmetic over integer counts, so any
    * engine replays it exactly; error is bounded by the bin width.
    *
    * The cumulative-count window partitions per group over ≤ `bins`
    * rows — bounded by construction, never by the data. Values are
    * clamped into [lo, hi); quantile targets use rank t = p·n with
    * the estimate lo + (bin + (t − cumBefore)/binCount) · width.
    *
    * Output: (groupCols..., p, qest) — one row per requested p.
    */
  def histogramQuantiles(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      ps: Seq[Double],
      lo: Double,
      hi: Double,
      bins: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val width = (hi - lo) / bins
    val gcols = groupCols.map(col)
    val binned = df.withColumn("__bin",
      least(greatest(
          floor((d(col(valueCol)) - lo) / width), lit(0L)),
        lit(bins - 1L)))
    val counts = binned.groupBy(gcols :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("__bin"))
    val cum = counts
      .withColumn("__cum", sum("__cnt").over(w))
      .withColumn("__n", sum("__cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy(gcols: _*)))
    val pDim = broadcast(ps.toDF("p"))
    cum.join(pDim)
      .withColumn("__t", col("p") * col("__n"))
      .filter(col("__cum") >= col("__t") &&
        (col("__cum") - col("__cnt")) < col("__t"))
      .withColumn("qest",
        lit(lo) + (col("__bin") +
          (col("__t") - (col("__cum") - col("__cnt"))) / col("__cnt")) * width)
      .select(gcols :+ col("p") :+ round(col("qest"), 4).as("qest"): _*)
  }

  /** Segment-fill LINEAR INTERPOLATION of a sparse keyed series: each
    * observed (year, v) row explodes to the half-open span up to the
    * next observation, with the filled years taking the linear blend
    * of the two endpoints — gap-filling for irregular time series
    * without a calendar scaffold join (the scaffold multiplies
    * key-grain data by the year-range width BEFORE filtering; the
    * segment explode emits exactly the output rows and rides the one
    * (keys) window exchange — same design as the scoring chain's
    * densification, AssociationScore.scala).
    *
    * Output: keys ++ (year, v, interpolated) — `v` rounded to 4dp,
    * observed rows carried exactly, trailing key years not
    * extrapolated.
    */
  def interpolate(
      df: DataFrame,
      keys: Seq[String],
      yearCol: String = "year",
      valCol: String = "v"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(yearCol))
    val frac = d(col("__yo") - col(yearCol)) /
      d(col("__ny") - col(yearCol))
    df
      .withColumn("__ny", lead(col(yearCol), 1).over(w))
      .withColumn("__nv", lead(col(valCol), 1).over(w))
      .withColumn("__yo", explode(sequence(col(yearCol),
        coalesce(col("__ny") - 1, col(yearCol)))))
      .withColumn("interpolated", col("__yo") =!= col(yearCol))
      .withColumn("__v",
        when(!col("interpolated"), d(col(valCol)))
          .otherwise(d(col(valCol)) +
            d(col("__nv") - col(valCol)) * frac))
      .select(keys.map(col) ++ Seq(col("__yo").as(yearCol),
        round(col("__v"), 4).as(valCol), col("interpolated")): _*)
  }

  /** Shannon-entropy mixture report per key: how diverse is the
    * category distribution (sources per language, languages per
    * source, datasources per disease) — H = ln T − (Σ c·ln c)/T from
    * the exact integer counts, plus the effective category count
    * exp(H) (the "perplexity of the mixture", the number every
    * data-mixing paper reports).
    *
    * Scale shape: two stacked map-side-combined aggregates — (keys,
    * cat) counts, then O(1)-state moments per key. Floats enter only
    * in the final ln/exp of one row per key.
    *
    * Output: (keys..., n_cats, n_rows, entropy 4dp, eff_cats 4dp).
    */
  def mixtureEntropy(
      df: DataFrame,
      keys: Seq[String],
      catCol: String): DataFrame = {
    val h = log(col("n_rows")) - col("__cl") / col("n_rows")
    df.groupBy((keys :+ catCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_cats"),
        sum(col("__c")).as("n_rows"),
        sum(d(col("__c")) * log(col("__c"))).as("__cl"))
      .select(keys.map(col) ++ Seq(col("n_cats"), col("n_rows"),
        round(h, 4).as("entropy"),
        round(exp(h), 4).as("eff_cats")): _*)
  }

  /** Two-proportion z statistic per experiment key — the A/B-test
    * primitive: z = (p̂_b − p̂_a) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with the
    * pooled p̂. Counts are exact integers from ONE conditional
    * map-side-combined aggregate (never two passes); the six floats
    * of the closed form run once per experiment row. Keys where
    * either arm is empty or the pooled rate is degenerate (0 or 1)
    * yield NULL z rather than ±∞.
    *
    * Arm A defaults to ¬B, but callers whose arms are sign-sensitive
    * (e.g. `user_id % 2` — Spark and DuckDB both return −1 for
    * negative ids, so `¬(x%2=1)` ≠ `x%2=0` there) should pass an
    * explicit `variantA` so both engines partition identically and
    * out-of-universe rows land in NEITHER arm.
    *
    * Output: (keys..., n_a, x_a, n_b, x_b, z 4dp).
    */
  def twoProportionZ(
      df: DataFrame,
      keys: Seq[String],
      variantB: Column,
      success: Column,
      variantA: Option[Column] = None): DataFrame = {
    val na = d(col("n_a"))
    val nb = d(col("n_b"))
    val p = d(col("x_a") + col("x_b")) / (na + nb)
    val z = (col("x_b") / nb - col("x_a") / na) /
      sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb))
    val armA = variantA.getOrElse(!variantB)
    df.groupBy(keys.map(col): _*)
      .agg(
        count(when(armA, lit(1))).as("n_a"),
        count(when(armA && success, lit(1))).as("x_a"),
        count(when(variantB, lit(1))).as("n_b"),
        count(when(variantB && success, lit(1))).as("x_b"))
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 && p > 0 && p < 1,
          round(z, 4)))
  }

  /** Group-wise winsorization summary: clamp values into the group's
    * exact interpolated [pLo, pHi] percentile band and report the
    * effect — the robust-statistics preprocessor for training-signal
    * columns with heavy tails.
    *
    * Thresholds are rounded to 4dp BEFORE clamping (identically on
    * the oracle side) so last-ulp percentile noise can never flip a
    * clip decision across engines. Two aggregates over the input (the
    * percentile pass and the summary pass joined on the keys) — the
    * same two-scan shape as any sort-based exact-percentile plan; at
    * 100 TB the threshold table is keys-sized and the join broadcasts.
    *
    * Output: (keys..., lo_th, hi_th, n, n_clipped, mean_raw 4dp,
    * mean_wins 4dp).
    */
  def winsorize(
      df: DataFrame,
      keys: Seq[String],
      valCol: String,
      lo: Double = 0.1,
      hi: Double = 0.9): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0<=lo<hi<=1, got $lo,$hi")
    val th = df.groupBy(keys.map(col): _*)
      .agg(percentile(col(valCol), typedLit(Seq(lo, hi))).as("__p"))
      .select(keys.map(col) ++ Seq(
        round(element_at(col("__p"), 1), 4).as("lo_th"),
        round(element_at(col("__p"), 2), 4).as("hi_th")): _*)
    val clamped = least(greatest(col(valCol), col("lo_th")), col("hi_th"))
    df.join(broadcast(th), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        first(col("lo_th")).as("lo_th"),
        first(col("hi_th")).as("hi_th"),
        count(lit(1)).as("n"),
        count(when(col(valCol) < col("lo_th") || col(valCol) > col("hi_th"),
          lit(1))).as("n_clipped"),
        round(avg(col(valCol)), 4).as("mean_raw"),
        round(avg(clamped), 4).as("mean_wins"))
  }

  /** Fixed-period periodogram — the single-frequency DFT power at
    * each candidate period p (weekly 7, monthly 30, ...): does this
    * keyed daily series actually cycle at p, how strongly (amplitude
    * in original count units), and where is the peak phase? The
    * quantitative upgrade of [[seasonalIndex]]'s month-share table,
    * and the pre-flight for any seasonal model (D19/D24 assume the
    * period; this measures it).
    *
    * Portability: the per-phase profile m_r is a floor-of-double
    * micro-mean; centering multiplies through by the phase count P
    * (exact integers, the CUSUM trick); the cos/sin weights quantize
    * to integer milli-units — `round(cos(2·π·r/p)·1000)` in identical
    * written form both engines, so a 1-ulp libm disagreement dies at
    * the rounding — and the Fourier sums accumulate in decimal(38,0)
    * (c_r·weight can pass long range at 100 TB daily volumes).
    * Floats survive only in the final sqrt/scale. Peak phase =
    * smallest r attaining the max profile value — integer compares.
    *
    * Scale shape: one (keys, day) combine, one (keys, period, r)
    * combine (≤ Σp rows per key), a ≤max(p)-row window for the
    * centering totals, one final combine. No data-grain windows.
    *
    * Output: (keys..., period, n_phases, amp 4dp, peak_phase).
    */
  def periodogram(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String,
      periods: Seq[Int] = Seq(7, 30)): DataFrame = {
    require(periods.nonEmpty && periods.forall(p => p >= 2 && p < 1024))
    val daily = events
      .groupBy(keys.map(col) :+
        expr(s"unix_micros($tsCol) div 86400000000").as("__day"): _*)
      .agg(count(lit(1)).as("__n"))
    val phase = daily
      .select(keys.map(col) ++ Seq(col("__day"), col("__n"),
        explode(array(periods.map(lit(_)): _*)).as("period")): _*)
      .withColumn("__r", pmod(col("__day"), col("period")).cast("long"))
      .groupBy(keys.map(col) ++ Seq(col("period"), col("__r")): _*)
      .agg(sum("__n").as("__s"), count(lit(1)).as("__c"))
      .withColumn("__m",
        floor(d(col("__s")) * 1e6 / col("__c")).cast("long"))
    val w = Window.partitionBy(keys.map(col) :+ col("period"): _*)
    phase
      .withColumn("__Ct", sum("__m").over(w))
      .withColumn("__P", count(lit(1)).over(w))
      .withColumn("__mx", max("__m").over(w))
      .withColumn("__cr", col("__m") * col("__P") - col("__Ct"))
      .withColumn("__cw",
        expr("CAST(round(cos(2 * pi() * __r / period) * 1000) AS BIGINT)"))
      .withColumn("__sw",
        expr("CAST(round(sin(2 * pi() * __r / period) * 1000) AS BIGINT)"))
      .groupBy(keys.map(col) :+ col("period"): _*)
      .agg(
        first(col("__P")).as("n_phases"),
        sum(dec(col("__cr")) * col("__cw")).as("__A"),
        sum(dec(col("__cr")) * col("__sw")).as("__B"),
        min(when(col("__m") === col("__mx"), col("__r"))).as("peak_phase"))
      .select(keys.map(col) ++ Seq(col("period"), col("n_phases"),
        round(
          sqrt(d(col("__A") * col("__A") + col("__B") * col("__B"))) * 2 /
            d(col("n_phases") * col("n_phases")) / 1e9, 4)
          .as("amp"),
        col("peak_phase")): _*)
  }

  /** Seasonal index per key and calendar month: 12·(month share) — 1.0
    * means a flat month, 2.0 means the month carries twice its uniform
    * share. The classic retail/telemetry seasonality diagnostic.
    *
    * Scale shape: one map-side-combined aggregate to (keys, month)
    * grain — at most 12 rows per key — then a keys-partitioned window
    * over those 12-row groups for the total (a second, dim-sized
    * exchange). Counts exact; one division per output row.
    *
    * Output: (keys..., month, n, idx 4dp).
    */
  def seasonalIndex(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    events
      .groupBy(keys.map(col) :+ month(col(tsCol)).as("month"): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("__t", sum(col("n")).over(w))
      .select(keys.map(col) ++ Seq(col("month"), col("n"),
        round(lit(12.0) * col("n") / col("__t"), 4).as("idx")): _*)
  }

  /** Year-over-year growth and CAGR per keyed series: yoy_t =
    * v_t/v_{t−1} − 1 (NULL at the series head), and the compound
    * annual growth rate (v_last/v_first)^(1/span) − 1 repeated on
    * every row of the key.
    *
    * Scale shape: ONE (keys) exchange carries both the ordered lag
    * window and the unordered min/max//min_by/max_by frame (same
    * partitioning, two window nodes, zero extra shuffles). O(1)
    * window state.
    *
    * Output: (keys..., yearCol, valCol, yoy 4dp, cagr 4dp).
    */
  def growthRates(
      df: DataFrame,
      keys: Seq[String],
      yearCol: String = "year",
      valCol: String = "v"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(yearCol))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val firstV = d(min_by(col(valCol), col(yearCol)).over(wAll))
    val lastV = d(max_by(col(valCol), col(yearCol)).over(wAll))
    val span = d(max(col(yearCol)).over(wAll) - min(col(yearCol)).over(wAll))
    df
      .withColumn("__prev", lag(col(valCol), 1).over(w))
      .withColumn("yoy",
        round(d(col(valCol)) / col("__prev") - 1, 4))
      .withColumn("cagr",
        when(span > 0 && firstV > 0,
          round(pow(lastV / firstV, lit(1.0) / span) - 1, 4)))
      .drop("__prev")
  }

  /** Median-absolute-deviation robust dispersion summary per group:
    * median, MAD, and the count of |x − median| > k·1.4826·MAD
    * outliers (1.4826 scales MAD to σ under normality — the robust
    * z-score convention). Immune to the outliers it hunts, unlike
    * mean/stddev rules.
    *
    * Determinism contract: median and MAD are the exact interpolated
    * percentiles, ROUNDED to 4dp before any downstream arithmetic on
    * both engines, so the outlier threshold compare can never straddle
    * an ulp. Three passes over the input (median → deviations/MAD →
    * outlier count), each a keys-broadcast join + one aggregate — the
    * unavoidable shape of exact nested percentiles; the intermediate
    * tables are keys-sized.
    *
    * Output: (keys..., median, mad, n, n_outliers).
    */
  def madSummary(
      df: DataFrame,
      keys: Seq[String],
      valCol: String,
      k: Double = 3.0): DataFrame = {
    val med = df.groupBy(keys.map(col): _*)
      .agg(round(percentile(col(valCol), lit(0.5)), 4).as("median"))
    val dev = df.join(broadcast(med), keys)
      .withColumn("__ad", abs(col(valCol) - col("median")))
    val mad = dev.groupBy(keys.map(col): _*)
      .agg(round(percentile(col("__ad"), lit(0.5)), 4).as("mad"))
    dev.join(broadcast(mad), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        first(col("median")).as("median"),
        first(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        count(when(col("__ad") > lit(k) * lit(1.4826) * col("mad"), lit(1)))
          .as("n_outliers"))
  }

  /** Last-observation-carried-forward gap fill — the step-function
    * cousin of [[interpolate]]: every missing year between consecutive
    * observations repeats the PRIOR observation's value (sensor
    * readings, prices, config states — anything valid-until-replaced).
    *
    * Same scale shape as interpolate: one (keys) exchange for the
    * lead() window, then the dense years explode IN-ROW from each
    * observation's gap — no scaffold join, no second shuffle, and the
    * carried value is the row's own (`lead` is only needed for the gap
    * length). Values are copied, never recomputed — exact in any
    * engine.
    *
    * Output: (keys..., yearCol, valCol, filled).
    */
  def locf(
      df: DataFrame,
      keys: Seq[String],
      yearCol: String = "year",
      valCol: String = "v"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(yearCol))
    df
      .withColumn("__ny", lead(col(yearCol), 1).over(w))
      .withColumn("__yo", explode(sequence(col(yearCol),
        coalesce(col("__ny") - 1, col(yearCol)))))
      .withColumn("filled", col("__yo") =!= col(yearCol))
      .select(keys.map(col) ++ Seq(col("__yo").as(yearCol),
        col(valCol), col("filled")): _*)
  }

  /** Exponentially-weighted moving average with α = 1/2, computed
    * CLOSED-FORM over the running window: with f_t = 2^t·e_t the
    * recurrence e_t = (x_t + e_{t−1})/2 becomes the plain running sum
    * f_t = f_{t−1} + x_t·2^(t−1) (f_1 = 2x_1) — so the stateful
    * smoother costs one O(1)-state window pass on the (keys)
    * exchange, no recursion, no UDF. α = 1/2 makes every scale factor
    * a power of two, i.e. an exact exponent shift: the only rounding
    * anywhere is the running sum itself, which every engine
    * accumulates in the same frame order — the result is
    * bit-identical across engines (and pinned so by the oracle).
    * Valid for series up to ~1000 points (2^t must stay finite);
    * year-grain series are bounded far below that.
    */
  def ewmaHalf(
      df: DataFrame,
      keys: Seq[String],
      yearCol: String,
      valCol: String,
      out: String = "ewma"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(yearCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__g",
        when(col("__rn") === 1, col(valCol) * 2.0)
          .otherwise(col(valCol) * pow(lit(2.0), col("__rn") - 1)))
      .withColumn(out, sum("__g").over(cum) / pow(lit(2.0), col("__rn")))
      .drop("__rn", "__g")
  }

  /** One-sided CUSUM drift statistic (Page 1954) over a keyed integer
    * series, in running-sum form: the textbook recursion
    * C_t = max(0, C_{t−1} + (x_t − μ)) collapses to
    * C_t = S_t − min(0, min_{i≤t} S_i) with S_t = Σ_{i≤t}(x_i − μ) —
    * a running sum minus its running minimum, so the stateful detector
    * costs two O(1)-state window passes riding ONE (keys) exchange:
    * no recursion, no self-join, no scaffold. Scaling every term by
    * the series length D keeps the arithmetic in exact integers
    * (μ = T/D is rational): S′_t = Σ(D·x_i − T) = D·S_t, and the
    * emitted drift is D·C_t. A point is flagged when that scaled
    * drift exceeds T·D/fracDen — cumulative positive deviation worth
    * more than 1/fracDen of the series' total volume, a scale-free
    * threshold that needs no variance estimate and stays
    * integer-exact (engine-portable with zero float compares).
    *
    * The per-key totals come from an unordered full-frame window on
    * the SAME partition keys as the running windows, so Catalyst
    * plans one exchange + one sort for the whole operator.
    *
    * Adds (drift, flag) to the series rows.
    */
  def cusumDrift(
      df: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valCol: String,
      fracDen: Int = 10): DataFrame = {
    val part = Window.partitionBy(keys.map(col): _*)
    val run = part.orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__T", sum(col(valCol).cast("long")).over(part))
      .withColumn("__D", count(lit(1)).over(part))
      .withColumn("__S",
        sum(col(valCol).cast("long") * col("__D") - col("__T")).over(run))
      .withColumn("drift", col("__S") - least(lit(0L), min("__S").over(run)))
      .withColumn("flag", col("drift") * fracDen > col("__T") * col("__D"))
      .drop("__T", "__D", "__S")
  }

  /** Page–Hinkley mean-shift detector (Page 1954; the streaming-ML
    * drift test, e.g. Gama et al. 2014) over a keyed integer series —
    * CUSUM's running-mean sibling: where `cusumDrift` measures excess
    * over the FIXED whole-series mean, Page–Hinkley measures each
    * point against the RUNNING mean seen so far,
    *   m_t = Σ_{i≤t} (x_i − x̄_i),  PH_t = m_t − min_{i≤t} m_i,
    * so it reacts to a level shift without needing the series total
    * up front (the form an online monitor actually runs).
    *
    * Portability: x̄_i = S_i/i is rational with a PER-ROW denominator,
    * so unlike CUSUM there is no single integer scaling — each
    * deviation is fixed to micro-units via floor-of-double
    * (engine-identical IEEE division + floor; integer `div` is not
    * portable on negatives), after which every window sum/min/compare
    * is exact integer arithmetic. A point is flagged when PH exceeds
    * 1/fracDen of the series' total volume — the same scale-free,
    * variance-free threshold contract as `cusumDrift`.
    *
    * Scale shape: identical to CUSUM — running sum + running min +
    * one full-frame total, all riding ONE (keys) exchange and one
    * sort; O(1) window state, no recursion or self-join.
    *
    * Adds (ph, flag) to the series rows; ph is in value-micro-units.
    */
  def pageHinkley(
      df: DataFrame,
      keys: Seq[String],
      timeCol: String,
      valCol: String,
      fracDen: Int = 10): DataFrame = {
    val part = Window.partitionBy(keys.map(col): _*)
    val run = part.orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running frames FIRST, the partition-only total LAST: planned
    // above the (keys, time)-sorted running windows its keys-only sort
    // requirement is prefix-satisfied, so the whole operator rides one
    // exchange and ONE sort (pinned in ScaleDesignSpec round-13)
    df.withColumn("__S", sum(col(valCol).cast("long")).over(run))
      .withColumn("__i", count(lit(1)).over(run))
      .withColumn("__dev",
        col(valCol).cast("long") * 1000000L -
          floor(d(col("__S")) * 1e6 / d(col("__i")))
            .cast("long"))
      .withColumn("__m", sum("__dev").over(run))
      .withColumn("ph", col("__m") - min("__m").over(run))
      .withColumn("__T", sum(col(valCol).cast("long")).over(part))
      .withColumn("flag", col("ph") * fracDen > col("__T") * 1000000L)
      .drop("__T", "__S", "__i", "__dev", "__m")
  }

  /** Autocorrelation function (lags 1..maxLag) of a keyed integer
    * series: Pearson r between x(year) and x(year−k), pairing by YEAR
    * ARITHMETIC (a pair exists only when the series has both year and
    * year−k — gaps in an irregular series don't silently misalign, as
    * pairing by row position would). One lag window per k plus one
    * in-row explode, all riding a single (keys) exchange; the moment
    * sums (Σx, Σy, Σxy, Σx², Σy²) accumulate in decimal(38,0) — exact
    * integers, so the only floats are the final ratio and sqrt, and
    * the result is engine-portable. Zero-variance lags yield NULL.
    *
    * Output: keys :+ (lag, n_pairs, acf).
    */
  def autocorrelation(
      df: DataFrame,
      keys: Seq[String],
      yearCol: String,
      valCol: String,
      maxLag: Int = 3): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(yearCol))
    val lagged = (1 to maxLag).foldLeft(df) { (d, k) =>
      d.withColumn(s"__x$k", lag(col(valCol), k).over(w))
        .withColumn(s"__t$k", lag(col(yearCol), k).over(w))
    }
    val stacked = lagged
      .select(keys.map(col) ++ Seq(col(yearCol).as("__t"),
        dec(col(valCol)).as("__x"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("k"), dec(col(s"__x$k")).as("xp"),
            col(s"__t$k").as("tp"))): _*)).as("__l")): _*)
      .filter(col("__l.tp").isNotNull &&
        col("__t") - col("__l.tp") === col("__l.k"))
    val n = dec(col("__n"))
    val varx = n * col("__sxx") - col("__sx") * col("__sx")
    val vary = n * col("__syy") - col("__sy") * col("__sy")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    stacked
      .groupBy(keys.map(col) :+ col("__l.k").as("lag"): _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__l.xp")).as("__sy"),
        sum(col("__x") * col("__l.xp")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__l.xp") * col("__l.xp")).as("__syy"))
      .select(keys.map(col) ++ Seq(col("lag"),
        col("__n").cast("long").as("n_pairs"),
        when(varx > 0 && vary > 0,
          round(d(num) /
            sqrt(d(varx) * d(vary)), 4))
          .as("acf")): _*)
  }

  /** Ljung–Box portmanteau test (D31) — is a keyed series WHITE NOISE
    * across the first h lags jointly: Q = n(n+2)·Σ_{k≤h} ρ̂²_k/(n−k),
    * the one-number autocorrelation gate (large Q ⇒ structure
    * remains). Complements [[autocorrelation]]'s per-lag view and
    * [[Rollups.durbinWatson]]'s lag-1-only residual check — the
    * standard "are these residuals done" test after any D-family fit.
    *
    * Exactness: values must arrive as INTEGER units (the caller
    * quantizes — daily cent sums, counts). The one-mean ACF is
    * multiplied through by n²: ρ̂_k = (n²·Σx_t x_{t−k} −
    * n·Sx·(Σ'x_t + Σ'x_{t−k}) + m_k·Sx²) / (n·(n·Sxx − Sx²)) — every
    * sum exact in decimal(38,0), so ρ̂_k is ONE double ratio of exact
    * integers. Each lag's ρ̂²/(n−k) term becomes integer PICO-units
    * via the engine-identical floor(x·1e12 + 0.5), so the h-term sum
    * is order-free; Q is one final double expression, 4dp.
    *
    * Scale shape: series live at key grain (day-grain bounded — the
    * Holt/D-family series contract); lag pairs come from ONE
    * time-ARITHMETIC equi-join on (keys, t−k) after an in-row ≤h
    * fan-out — gap-proof (a position-lag window would silently pair
    * across gaps differently than the oracle), the q140 replay
    * convention; the (key, lag) combine is map-side and the per-key
    * totals join is key-grain. No single-partition stage.
    *
    * Output: (keys..., n, n_lags, q_lb) — null when the series is
    * constant (zero variance) or too short (n ≤ maxLag).
    */
  def ljungBox(
      df: DataFrame,
      keys: Seq[String],
      tCol: String,
      valCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1)
    val base = df
      .select(keys.map(col) ++ Seq(col(tCol).cast("long").as("__t"),
        col(valCol).cast("long").as("__x")): _*)
      .localCheckpoint() // feeds totals, probes, and the lag partner
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
    perLag
      .join(tot, keys)
      .withColumn("__rho", when(den > 0, d(num) / d(den)))
      .withColumn("__term",
        floor(col("__rho") * col("__rho") /
          d(col("__n") - col("__k")) * 1e12 + 0.5).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(max("__n").as("n"), count(lit(1)).as("n_lags"),
        min(when(col("__rho").isNotNull, 1).otherwise(0)).as("__ok"),
        sum("__term").as("__ts"))
      .select(keys.map(col) ++ Seq(col("n"), col("n_lags"),
        when(col("__ok") === 1 && col("n") > maxLag,
          round(d(col("n")) * d(col("n") + 2L) *
            (d(col("__ts")) / 1e12), 4)).as("q_lb")): _*)
  }

  /** 2-D skyline (Pareto frontier, minimize both): the distinct points
    * no other point beats on both dimensions (ties on one dimension
    * only don't dominate). The classic OLAP "best tradeoffs" operator
    * (Börzsönyi et al., ICDE'01).
    *
    * Formulation: on DISTINCT points sorted by (x asc, y asc), a point
    * is dominated iff the running min of y over STRICTLY preceding
    * rows is ≤ its y — every preceding row has (x' < x) or
    * (x' = x ∧ y' < y), so that single running min IS the dominance
    * test.
    *
    * Scale shape: phase 1 computes local frontiers per md5 bucket of
    * the distinct-point table (any globally non-dominated point is
    * locally non-dominated, so pruning is lossless); phase 2 runs the
    * same rule once over the surviving points — a tiny set, the only
    * single-partition window in the plan. The raw table is never
    * globally sorted.
    */
  def skyline2d(
      df: DataFrame,
      xCol: String,
      yCol: String,
      buckets: Int = 32): DataFrame = {
    val pts = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n"))
    def frontier(in: DataFrame, part: Seq[Column]): DataFrame = {
      val w = (if (part.isEmpty) Window.partitionBy(lit(1))
        else Window.partitionBy(part: _*))
        .orderBy(col("x"), col("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
      in.withColumn("__pm", min(col("y")).over(w))
        .filter(col("__pm").isNull || col("__pm") > col("y"))
        .drop("__pm")
    }
    val local = frontier(pts.withColumn("__b",
      Sampling.hashBucket(concat(col("x").cast("string"), lit("|"),
        col("y").cast("string")), "sky") % buckets), Seq(col("__b")))
      .drop("__b")
    frontier(local, Seq.empty)
  }

  /** Per-key ordinary-least-squares trend of `yCol` against `xCol`:
    * slope, intercept and R² per key, from the five moment sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) accumulated in decimal(38,0) — exact
    * integers on a single (keys) exchange with full map-side combine,
    * so any engine computing the same closed form from the same sums
    * agrees bit-for-bit; floats appear only in the final ratios.
    *
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²); intercept from the
    * normal equations; R² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² −
    * (Σy)²)). Keys with fewer than 2 points or zero x-variance are
    * dropped; zero y-variance yields NULL R² (vertical fit is exact
    * but undefined correlation).
    *
    * Scale shape: O(1) aggregate state per key — never a window or a
    * self-join — so a billion keys cost one shuffle of six numbers
    * each.
    */
  def linearTrend(
      df: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val x = dec(col(xCol))
    val y = dec(col(yCol))
    val n = dec(col("__n"))
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val varx = n * col("__sxx") - col("__sx") * col("__sx")
    val vary = n * col("__syy") - col("__sy") * col("__sy")
    val slope = d(num) / d(varx)
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"),
        sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"))
      .filter(col("__n") >= 2 && varx > 0)
      .select(keys.map(col) ++ Seq(
        col("__n").cast("long").as("n_points"),
        round(slope, 4).as("slope"),
        round((d(col("__sy")) - slope * d(col("__sx")))
          / d(col("__n")), 4).as("intercept"),
        // r2 in doubles: num*num in decimal(38,0) can overflow the
        // 38-digit cap for extreme sums where the closed form is still
        // finite in doubles (oracle SQL mirrors the same float math).
        when(vary > 0,
          round(d(num) * d(num)
            / (d(varx) * d(vary)), 4))
          .as("r2")): _*)
  }

  /** Grouped mode (most frequent value per key), deterministic ties:
    * two map-side-combined groupBys and a `max(struct(n, value))` —
    * the struct's lexicographic order picks the highest count, then
    * the greatest value — with O(1) aggregate state, never a
    * count-ranked window (whose hottest key is one task under Zipf).
    */
  def modePerKey(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col("n"), col(valueCol))).as("__m"))
      .select(keys.map(col) :+
        col(s"__m.$valueCol").as(s"mode_$valueCol") :+
        col("__m.n").as("n"): _*)

  private def firstPeaks(dense: DataFrame, keys: Seq[String]): DataFrame =
    Novelty.peaks(dense, keys)
      .groupBy(keys.map(col): _*)
      .agg(min("peakYear").as("peakYear"))

  private def correlate(
      fp0: DataFrame, pairKeys: Seq[String], srcCol: String, yearCol: String): DataFrame = {
    // r16: the source-pair self-join reads `fp` TWICE and each side
    // re-derived the ENTIRE upstream chain (8 parquet scans in q86's
    // plan — the sides prune different columns, so their exchanges
    // never canonicalize equal and ReusedExchange cannot fire). One
    // eager cut on the compact first-peak frame; values unchanged.
    // (r17 measured the alternatives at sf0.1 min-of-6: persist() is
    // DISALLOWED on query paths — the SQL CacheManager matches later
    // identical logical plans, so bench rep N+1 silently reads rep
    // N's cache (cross-run result caching); lazy localCheckpoint
    // loses to eager here because concurrent consumer stages race
    // the uncached subtree and compute it twice.)
    val fp = fp0.localCheckpoint()
    val a = fp.select(
      (pairKeys.map(col) :+ col(srcCol).as("datasourceIdA")
        :+ col(yearCol).as("yearA")): _*)
    val b = fp.select(
      (pairKeys.map(col) :+ col(srcCol).as("datasourceIdB")
        :+ col(yearCol).as("yearB")): _*)
    a.join(b, pairKeys)
      .groupBy("datasourceIdA", "datasourceIdB")
      .agg(
        count(lit(1)).as("n"),
        corr(d(col("yearA")), d(col("yearB"))).as("r"))
      .filter(col("n") >= 3)
      .withColumn("r",
        when(isnan(col("r")), d(lit(null))).otherwise(round(col("r"), 2)))
      // p from the PUBLISHED 2dp r, so any engine derives the same
      // value from the same inputs (analysis.ipynb cell 1 reports
      // scipy pearsonr's p next to each r)
      .withColumn("p_value",
        round(graft.functions.pearsonP(col("r"), col("n")), 4))
  }

  /** ⌊cdf·16^6⌋ of Poisson(1) at k = 0..7 — the integer inverse-CDF
    * thresholds for [[bootstrapMeanCI]]'s replication draw. A 24-bit
    * md5 bucket below `t(k)` means weight k; ≥ all of them means the
    * capped tail weight 8 (P ≈ 1e-5, bias far below the 4dp grain).
    */
  private[graft] val PoissonThresholds: Seq[Long] =
    Seq(6171992L, 12343985L, 15429982L, 16458647L,
      16715813L, 16767247L, 16775819L, 16777044L)

  /** Poisson-bootstrap confidence interval for the per-key mean — the
    * resampling scheme that works on distributed data: the classical
    * multinomial bootstrap needs a global coordinated draw of n rows
    * per resample, but Poissonizing it (w ~ Poisson(1) per
    * (row, rep), independent across rows) lets ONE pass over the data
    * compute all `reps` resample means simultaneously.
    *
    * Determinism/portability: the Poisson draw inverts the CDF on a
    * 24-bit md5-derived integer against precomputed
    * [[PoissonThresholds]] — exact integer comparisons any engine
    * replays bit-for-bit. Values are quantized to integer cents, so
    * every resample mean is a ratio of exact longs; floats appear
    * only in that final division and the 4dp round (house
    * determinism contract; q173's oracle replays the same chain).
    *
    * Scale shape: no rep explosion at all — each row emits ONE
    * 2·reps long vector ([[graft.functions.RepWeightVec]]) folded by
    * the key-grain [[graft.functions.VectorSum]] combine, so the
    * shuffle carries one vector per key — never reps copies of
    * anything — and the quantile over rep-means runs on a
    * |keys|-sized frame. reps multiplies scan-side compute linearly;
    * nothing else grows.
    */
  def bootstrapMeanCI(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      idCol: String,
      reps: Int = 64,
      salt: String = "boot",
      alphaPct: Int = 5): DataFrame = {
    require(reps > 0 && alphaPct > 0 && alphaPct < 100)
    // spread(): the md5-heavy scan must not run on the driver tables'
    // 1-2 parquet splits (r16: q173 single-task at 6.8 s min-6)
    val rows = spread(df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select((keys.map(col) :+ cents(col(valueCol)).as("_cents")
        :+ col(idCol).cast("string").as("_id")): _*))
    // r17 (guide §2.3/§4): the ×reps row explode is gone — one native
    // RepWeightVec eval per row computes every rep's Poisson weight
    // (bit-identical md5 chain, one reused digest, no hex/conv churn)
    // and VectorSum folds the per-rep [w·cents, w] sums at KEY grain:
    // the aggregate sees n rows instead of n·reps, the shuffle carries
    // one 2·reps-long vector per key, and the per-rep expansion below
    // runs on the |keys|-sized frame. Base mean and CI derive from
    // the SAME aggregate; the checkpoint pins the single data pass
    // (the two branches prune different aggregate columns, so without
    // it each would re-scan and re-aggregate — the md5 pass twice).
    val agg0 = rows
      .withColumn("_v", graft.functions.RepWeightVec.repWeightVec(
        col("_id"), col("_cents"), ":" + salt + ":", reps, PoissonThresholds))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("_cents")).as("_sc"),
        graft.functions.VectorSum.vectorSum(col("_v")).as("_st"))
      .localCheckpoint()
    val repMeans = agg0
      .select((keys.map(col) :+ explode(transform(
        sequence(lit(0), lit(reps - 1)),
        r => struct(
          element_at(col("_st"), r + 1).as("_ws"),
          element_at(col("_st"), r + reps + 1).as("_wn")))).as("_r")): _*)
      .filter(col("_r._wn") > 0)
      .withColumn("_mean",
        d(col("_r._ws")) / d(col("_r._wn")) / 100.0)

    val lo = alphaPct / 200.0
    val hi = 1.0 - lo
    val ci = repMeans.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_reps"),
        round(expr(s"percentile(_mean, $lo)"), 4).as("ci_lo"),
        round(expr(s"percentile(_mean, $hi)"), 4).as("ci_hi"))
    agg0.join(ci, keys)
      .select((keys.map(col) :+ col("n")
        :+ round(d(col("_sc")) / d(col("n")) / 100.0, 4)
          .as("mean")
        :+ col("n_reps") :+ col("ci_lo") :+ col("ci_hi")): _*)
  }

  /** Exact weighted quantile per key: the smallest value whose
    * cumulative weight reaches qNum/qDen of the key's total weight —
    * the weighted median (1/2) generalized to any rational q. The
    * "median document by token mass" / "value below which half the
    * spend sits" primitive that unweighted percentiles can't answer.
    *
    * Exactness: weights are integral and q is a rational, so the
    * crossing test `2·cumw ≥ total` (for q = 1/2) compares exact
    * longs — no interpolation, no floats anywhere, any engine agrees
    * bit-for-bit. The (value, id) ordering makes the cumulative sum
    * deterministic under ties, and `n_at_or_above` counts rows from
    * the crossing ROW onward (within the crossing value, rows whose
    * running weight is still below the threshold are excluded).
    *
    * Scale shape: rows collapse to (keys, value) weight/count sums
    * via ONE map-side combine BEFORE any window — the ordered
    * cumulative window runs over DISTINCT values per key (the
    * ksTest / mannWhitney / rocAuc grain), never data rows, so a
    * low-cardinality key no longer means a single task sorting that
    * key's entire history. The only row-grain window that remains is
    * the within-crossing-value refinement of `n_at_or_above`, and it
    * sees ONLY the tie rows of the one crossing value per key — the
    * irreducible tie grain, not the corpus.
    */
  def weightedQuantile(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      weightCol: String,
      idCol: String,
      qNum: Int = 1,
      qDen: Int = 2): DataFrame = {
    require(qNum > 0 && qDen > qNum)
    val rows = df.filter(col(weightCol) > 0 && col(valueCol).isNotNull)
      .withColumn("_w", col(weightCol).cast("long"))
    // value-grain collapse: the window input is the distinct-value
    // table, bounded by the metric's range, never by corpus rows
    val vals = rows.groupBy((keys.map(col) :+ col(valueCol)): _*)
      .agg(sum(col("_w")).as("_vw"), count(lit(1)).as("_vc"))
    val ordered = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(keys.map(col): _*)
    // per-key crossing summary: one row per key (wq_value = smallest
    // value whose cumulative weight reaches q of the total; _cb = the
    // cumulative weight BEFORE that value; _nge = rows at value ≥ it)
    val star = vals
      .withColumn("_cw", sum(col("_vw")).over(ordered))
      .withColumn("_tw", sum(col("_vw")).over(whole))
      .filter(col("_cw") * qDen >= col("_tw") * qNum)
      .groupBy(keys.map(col): _*)
      .agg(
        min(col("_tw")).as("total_w"),
        sum(col("_vc")).as("_nge"),
        min_by(col(valueCol), col("_cw")).as("wq_value"),
        min_by(col("_cw") - col("_vw"), col("_cw")).as("_cb"))
    // tie-grain refinement: of the crossing value's own rows, those
    // whose (before-value + within-value-by-id) running weight is
    // still under the threshold sit BEFORE the crossing row
    val within = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // only the columns the refinement touches ride the join — a caller
    // column that happens to be named wq_value/_cb/_twj can't collide
    val before = rows
      .select((keys :+ valueCol :+ idCol :+ "_w").distinct.map(col): _*)
      .join(star.select((keys.map(col) :+ col("wq_value") :+
        col("total_w").as("_twj") :+ col("_cb")): _*), keys)
      .filter(col(valueCol) === col("wq_value"))
      .withColumn("_wcum", sum(col("_w")).over(within))
      .filter((col("_cb") + col("_wcum")) * qDen < col("_twj") * qNum)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_nbefore"))
    star.join(before, keys, "left")
      .select((keys.map(col)
        :+ col("total_w")
        :+ (col("_nge") - coalesce(col("_nbefore"), lit(0L))).as("n_at_or_above")
        :+ col("wq_value")): _*)
  }

  /** Pearson χ² independence test between two categorical columns —
    * [[mutualInfo]]'s hypothesis-test companion (MI measures the
    * dependence, χ²/Cramér's V judge it against sampling noise).
    *
    * Empty-cell fold: the textbook statistic sums (O−E)²/E over ALL
    * r·c cells, but ΣE over all cells equals n, so the empty cells'
    * mass is n − Σ_observed E and χ² = Σ_observed((O−E)²/E − E) + n —
    * the statistic never needs the empty-cell enumeration a sparse
    * high-cardinality pair would make quadratic.
    *
    * Determinism: E is a pinned cast-then-multiply ratio of exact
    * longs; per-cell contributions are rounded 6dp before the final
    * sum (cell-table-sized), χ² and V rounded 4dp.
    *
    * Output (one row): n, r_levels, c_levels, dof, chi2, cramers_v.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("n_ab"))
    val e = d(col("_na")) * d(col("_nb")) / d(col("_n"))
    cells
      .withColumn("_na", sum(col("n_ab")).over(Window.partitionBy(aCol)))
      .withColumn("_nb", sum(col("n_ab")).over(Window.partitionBy(bCol)))
      .withColumn("_n", sum(col("n_ab")).over(Window.partitionBy()))
      .withColumn("contrib",
        round((d(col("n_ab")) - e) * (d(col("n_ab")) - e) / e - e, 6))
      .groupBy()
      .agg(
        min(col("_n")).as("n"),
        countDistinct(col(aCol)).as("r_levels"),
        countDistinct(col(bCol)).as("c_levels"),
        sum(col("contrib")).as("_sc"))
      .withColumn("dof", (col("r_levels") - 1) * (col("c_levels") - 1))
      .withColumn("chi2", round(col("_sc") + col("n"), 4))
      .withColumn("cramers_v",
        // a 1×c (or r×1) table has no association to normalize
        when(col("dof") > 0,
          round(sqrt(col("chi2") / (d(col("n")) *
            d(least(col("r_levels") - 1, col("c_levels") - 1)))), 4)))
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        col("chi2"), col("cramers_v"))
  }

  /** Benjamini–Hochberg FDR adjustment over a table of p-values — the
    * multiple-testing correction the reference's correlation analysis
    * (analysis.ipynb cell 1: one scipy pearsonr p per source pair)
    * stops short of: adj_p(i) = min_{j ≥ i} (m·p(j)/j) over the
    * ascending p ranking, capped at 1.
    *
    * Determinism: ranks come from (p, tieCols) — a total order — and
    * the adjustment is arithmetic on the published 4dp p's; the
    * suffix-min window runs over exact identical doubles on any
    * engine.
    *
    * Scale shape: global windows, deliberately — the input is a
    * HYPOTHESIS table (one row per tested pair, dim²-sized), never
    * row-grain data; m hypotheses cost m O(1)-state window rows.
    *
    * Adds (p_rank, p_adj, significant at `alpha`); NULL p rows are
    * dropped (untested ≠ tested-insignificant).
    */
  def bhAdjust(
      df: DataFrame,
      pCol: String,
      tieCols: Seq[String],
      alpha: Double = 0.05): DataFrame = {
    val ord = Window.orderBy((col(pCol) +: tieCols.map(col)): _*)
    val all = Window.partitionBy()
    val suffix = Window.orderBy(col("p_rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // loud scale guard (r11 carried item): the global rank is safe only
    // because the input is a HYPOTHESIS table — a data-grain p feed
    // would single-task the sort at 100 TB. The raise rides the same
    // row_number (one window, no extra sort), like the ksTest family.
    val cap = GraftConf.ValueGrainCap
    df.filter(col(pCol).isNotNull)
      .withColumn("p_rank",
        when(row_number().over(ord) > cap,
          raise_error(lit(s"graft.bhAdjust: hypothesis grain exceeds " +
            s"ValueGrainCap=$cap — bhAdjust takes one row per tested " +
            "hypothesis, never row-grain data; aggregate upstream")))
          .otherwise(row_number().over(ord)).cast("long"))
      .withColumn("_m", count(lit(1)).over(all))
      .withColumn("p_adj",
        round(least(lit(1.0),
          min(col(pCol) * col("_m") / col("p_rank")).over(suffix)), 4))
      .withColumn("significant", col("p_adj") <= alpha)
      .drop("_m")
  }

  /** Mutual information between two categorical columns — the
    * dependence profile a feature-selection / leakage audit needs
    * (how much does `source` predict `lang`?). Emits the cell grain:
    * joint count, PMI, and each cell's MI contribution, plus the
    * total MI repeated per row (the table IS the report).
    *
    * Determinism: every probability is a ratio of exact long counts;
    * ln runs on one double ratio per cell with an explicit
    * cast-then-multiply order mirrored by the oracle, and
    * contributions are rounded 6dp before the total sums them (a
    * dim²-sized sum of 6dp-grain values — ulp noise cannot reach the
    * 4dp total).
    *
    * Scale shape: one (a, b) map-side-combined aggregate over the
    * data; marginals and the total are windows over the CELL table
    * (dim², not data) — the corpus is touched exactly once.
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("n_ab"))
    val byA = Window.partitionBy(aCol)
    val byB = Window.partitionBy(bCol)
    val all = Window.partitionBy()
    val ratio = d(col("n_ab")) * d(col("_n")) / (d(col("_na")) * d(col("_nb")))
    cells
      .withColumn("_na", sum(col("n_ab")).over(byA))
      .withColumn("_nb", sum(col("n_ab")).over(byB))
      .withColumn("_n", sum(col("n_ab")).over(all))
      .withColumn("pmi", round(log(ratio), 4))
      .withColumn("contrib", round(d(col("n_ab")) / d(col("_n")) * log(ratio), 6))
      .withColumn("mi", round(sum(col("contrib")).over(all), 4))
      .select(col(aCol), col(bCol), col("n_ab"), col("pmi"), col("contrib"), col("mi"))
  }

  /** UCB1 arm ranking — the deterministic half of a multi-armed
    * bandit: per arm, pull count, exact mean reward, and the UCB1
    * index mean + √(2·ln N / n) (Auer et al. 2002). The offline
    * report that says which arm an explore/exploit policy would pull
    * next and how separated the arms are.
    *
    * Scale shape: ONE map-side-combined aggregate to arm grain
    * (O(1) state: count + integer-cent sum); N is a window over the
    * ARM table only (dim-sized), never a second corpus pass. Means
    * are exact long cents until the final division; `ln`/`sqrt`
    * appear only in the last projection, rounded 6dp on both engines
    * before the display rank (rank ties broken by arm id, and equal
    * 6dp-rounded doubles rank identically everywhere).
    *
    * Output: (arm, n, total_n, mean_reward, bonus, ucb, rank).
    */
  def ucbArms(
      df: DataFrame,
      armCol: String,
      valueCol: String): DataFrame = {
    val all = Window.partitionBy()
    val arms = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"), sum(cents(col(valueCol))).as("__c"))
      .withColumn("total_n", sum(col("n")).over(all))
      .withColumn("mean_reward",
        round(d(col("__c")) / col("n") / 100.0, 4))
      .withColumn("bonus",
        round(sqrt(lit(2.0) * log(d(col("total_n")))
          / d(col("n"))), 6))
      .withColumn("ucb", round(col("mean_reward") + col("bonus"), 6))
    arms
      .withColumn("rank", rank().over(
        Window.orderBy(col("ucb").desc, col("arm"))).cast("long"))
      .select(col("arm"), col("n"), col("total_n"), col("mean_reward"),
        col("bonus"), col("ucb"), col("rank"))
  }

  /** Lagged cross-correlation between two event-type daily series —
    * "does A lead B?": Pearson r between count_A(t) and count_B(t+ℓ)
    * for every lag ℓ ∈ [−maxLag, maxLag] over the DENSE calendar
    * (absent days count 0 — skipping them would silently re-time the
    * series). The lead/lag diagnostic behind alerting ("errors spike
    * one day after deploys") and feature pre-screening.
    *
    * Scale shape: the corpus collapses ONCE to day grain (map-side
    * combine; day cardinality is calendar-bounded, thousands of rows
    * at any corpus size); the calendar spine comes from a one-row
    * min/max aggregate exploded to a `sequence`, and the per-lag
    * alignment is a broadcast self-join on day+ℓ — no windows, no
    * corpus re-scan, 2·maxLag+1 × days intermediate rows. All five
    * correlation sums are exact longs; each series is first centered
    * by its integer MIN (Pearson r is shift-invariant) so Σx² stays
    * in long range even at ~10⁹ events/day. One double division at
    * the end, 4dp; a zero-variance side yields null on both engines.
    *
    * Output: (lag, n_days, r), one row per lag.
    */
  def laggedCrossCorr(
      events: DataFrame,
      typeA: String,
      typeB: String,
      maxLag: Int = 3,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(maxLag >= 0, s"maxLag must be non-negative, got $maxLag")
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    // The day-grain collapse feeds FIVE consumers (span, the dense
    // join, min-centering, and both alignment sides); without an
    // eager cut Catalyst re-derives each branch from the CORPUS scan
    // (8 scans observed). localCheckpoint materializes the calendar-
    // bounded table once — the corpus is touched exactly once.
    val counts = events
      .filter(col(typeCol).isin(typeA, typeB))
      .groupBy(day.as("day"))
      .agg(
        sum(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("na"),
        sum(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("nb"))
      .localCheckpoint()
    val span = counts.agg(min("day").as("__lo"), max("day").as("__hi"))
    val dense = span
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
      .join(counts, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .localCheckpoint()
    val mins = dense.agg(min("na").as("__ma"), min("nb").as("__mb"))
    val centered = dense.crossJoin(broadcast(mins))
      .select(col("day"),
        (col("na") - col("__ma")).as("a"),
        (col("nb") - col("__mb")).as("b"))
    val lags = events.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    centered.select(col("day"), col("a"))
      .crossJoin(broadcast(lags))
      .join(broadcast(centered.select(col("day").as("__yd"), col("b"))),
        col("__yd") === col("day") + col("lag"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("a")).as("__sa"), sum(col("b")).as("__sb"),
        sum(col("a") * col("a")).as("__saa"),
        sum(col("b") * col("b")).as("__sbb"),
        sum(col("a") * col("b")).as("__sab"))
      .withColumn("__num",
        col("n_days") * col("__sab") - col("__sa") * col("__sb"))
      .withColumn("__den",
        sqrt(d(col("n_days") * col("__saa") - col("__sa") * col("__sa")) *
          d(col("n_days") * col("__sbb") - col("__sb") * col("__sb"))))
      .select(col("lag"), col("n_days"),
        round(d(col("__num")) / when(col("__den") === 0, lit(null)).otherwise(col("__den")), 4)
          .as("r"))
  }

  /** Kendall rank correlation τ-b between two daily event-count
    * series — the concordance companion to D14's lagged Pearson and
    * F26's Spearman: the share of day PAIRS that move together,
    * robust to any monotone transform and to outlier days, with the
    * τ-b tie normalization (zero-count days tie heavily, and the
    * dense calendar mints them deliberately — an untied τ-a would
    * overstate agreement).
    *
    * τ_b = (C − D) / √((n₀−n₁)(n₀−n₂)) over all day pairs i<j:
    * C concordant, D discordant, n₁/n₂ pairs tied on x/y.
    *
    * Exactness: concordance is pure integer COMPARISON (no sign
    * products — a 2·10⁹-count day difference squared would clear
    * long range); every count is an exact long on both engines and
    * τ is one double division, 4dp.
    *
    * Scale shape: the corpus collapses ONCE to the dense day grain
    * (calendar-bounded — thousands of rows at any corpus size; same
    * spine as laggedCrossCorr); the pair expansion is a broadcast
    * self-join on day<day — days² ≈ 10⁷ pairs for a decade, spread
    * across the cluster, never a single task; one final one-row agg.
    *
    * Output: one row (n_days, n_pairs, concordant, discordant,
    * ties_x, ties_y, tau_b) — null τ when a side is constant.
    */
  def kendallTau(
      events: DataFrame,
      typeA: String,
      typeB: String,
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val counts = events
      .filter(col(typeCol).isin(typeA, typeB))
      .groupBy(day.as("day"))
      .agg(
        sum(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("na"),
        sum(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("nb"))
      .localCheckpoint()
    val span = counts.agg(min("day").as("__lo"), max("day").as("__hi"))
    // dense calendar spine: zero-count days are real observations of
    // the series, exactly as laggedCrossCorr treats them
    val dense = span
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
      .join(counts, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("na"), lit(0L)).as("a"),
        coalesce(col("nb"), lit(0L)).as("b"))
      .localCheckpoint()
    val conc = (col("__a1") < col("__a2") && col("__b1") < col("__b2")) ||
      (col("__a1") > col("__a2") && col("__b1") > col("__b2"))
    val disc = (col("__a1") < col("__a2") && col("__b1") > col("__b2")) ||
      (col("__a1") > col("__a2") && col("__b1") < col("__b2"))
    dense.select(col("day").as("__d1"), col("a").as("__a1"), col("b").as("__b1"))
      .join(broadcast(dense.select(
        col("day").as("__d2"), col("a").as("__a2"), col("b").as("__b2"))),
        col("__d1") < col("__d2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(conc, 1L).otherwise(0L)).as("concordant"),
        sum(when(disc, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("__a1") === col("__a2"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("__b1") === col("__b2"), 1L).otherwise(0L)).as("ties_y"))
      .crossJoin(broadcast(dense.agg(count(lit(1)).as("n_days"))))
      .withColumn("__fx", col("n_pairs") - col("ties_x"))
      .withColumn("__fy", col("n_pairs") - col("ties_y"))
      .select(col("n_days"), col("n_pairs"),
        col("concordant"), col("discordant"), col("ties_x"), col("ties_y"),
        round(d(col("concordant") - col("discordant")) /
          when(col("__fx") <= 0 || col("__fy") <= 0, lit(null))
            .otherwise(sqrt(d(col("__fx")) * d(col("__fy")))), 4).as("tau_b"))
  }

  /** Two-sample Kolmogorov–Smirnov test — the distribution-shape
    * companion to F13's mean z-test: D = max_v |F₁(v) − F₂(v)| over
    * the pooled empirical CDFs, with the first-term asymptotic
    * p ≈ 2·exp(−2λ²), λ = D·√(n₁n₂/(n₁+n₂)). Detects ANY
    * distributional drift (shape, tails, multimodality), not just a
    * location shift — the standard gate for "did this cohort's metric
    * distribution change".
    *
    * Exactness: values quantize to integer cents and collapse to
    * value grain (c₁, c₂ counts — map-side combined), so the CDF gap
    * is the all-long |cum₁·n₂ − cum₂·n₁| and D is ONE double
    * division of exact longs; λ/exp enter only in the final 4dp
    * projection. Longs hold to ~3·10⁹ rows per side (cum·n ≤ n₁·n₂).
    *
    * Scale shape: the cumulative window is partitionless but runs
    * over DISTINCT quantized values — bounded by the metric's range
    * (thousands of rows for bounded metrics), never by corpus rows.
    * An unbounded-range metric should be bucketed upstream.
    *
    * Output: one row (n1, n2, d, lambda, p_value).
    */
  def ksTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val totals = pts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    grainGuarded(pts, cumRows, "ksTest")
      .withColumn("__f1", sum("c1").over(cumRows))
      .withColumn("__f2", sum("c2").over(cumRows))
      .crossJoin(broadcast(totals))
      .groupBy("n1", "n2")
      .agg(max(abs(col("__f1") * col("n2") - col("__f2") * col("n1"))).as("__dn"))
      .withColumn("__d", d(col("__dn")) / (d(col("n1")) * d(col("n2"))))
      .withColumn("__lam",
        col("__d") * sqrt(d(col("n1")) * d(col("n2")) / d(col("n1") + col("n2"))))
      .select(col("n1"), col("n2"),
        round(col("__d"), 4).as("d"),
        round(col("__lam"), 4).as("lambda"),
        round(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("__lam") * col("__lam"))), 4)
          .as("p_value"))
  }

  /** Wasserstein-1 (earth-mover) distance between two groups' value
    * distributions (F75) — HOW FAR apart are they in value units, the
    * magnitude companion to [[ksTest]]'s sup-gap significance and the
    * bin-free upgrade of I25's PSI: W1 = ∫|F1−F2| dx over the pooled
    * support. The drift monitor that says "the score distribution
    * moved by $0.12", which a p-value can't.
    *
    * Exactness: FULLY integer until one final division —
    * W1 = Σ_v |F1(v)·n2 − F2(v)·n1| · Δv / (n1·n2·100) where F are
    * cumulative integer-cent counts and Δv the gap to the next
    * distinct value; the sum rides decimal(38,0) (the corpus-moment
    * contract), so there is NO float accumulation on either engine.
    *
    * Scale shape: the ksTest contract — one value-grain collapse
    * feeding the CDF window and the totals, one grain-guarded
    * value-ordered single-partition stage, a one-row reduce.
    *
    * Output: one row (n1, n2, w1) in original value units, 4dp.
    */
  def wasserstein1(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val totals = pts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    grainGuarded(pts, cumRows, "wasserstein1")
      .withColumn("__f1", sum("c1").over(cumRows))
      .withColumn("__f2", sum("c2").over(cumRows))
      .withColumn("__dx", lead(col("v"), 1).over(byValue) - col("v"))
      // the last value row has no gap (and |F1·n2−F2·n1| = 0 there)
      .filter(col("__dx").isNotNull)
      .crossJoin(broadcast(totals))
      .groupBy("n1", "n2")
      .agg(sum(abs(dec(col("__f1")) * dec(col("n2")) -
        dec(col("__f2")) * dec(col("n1"))) * dec(col("__dx"))).as("__num"))
      .select(col("n1"), col("n2"),
        round(d(col("__num")) /
          (d(col("n1")) * d(col("n2")) * lit(100.0)), 4).as("w1"))
  }

  /** One-way ANOVA F statistic — does ANY of k groups' mean differ?
    * The k-group generalization of F13's two-sample z-test: F =
    * (SSB/(k−1)) / (SSW/(N−k)) with effect size η² = SSB/SST.
    *
    * Exactness: per-group integer-cent (n, Σx, Σx²) via ONE map-side
    * combine; SSB/SSW use the algebraic identities ΣS_g²/n_g − S²/N
    * and Q − ΣS_g²/n_g, all doubles derived from exact longs in the
    * same op order both engines. Scale shape: group table is
    * dim-sized; the final reduce is a one-row aggregate.
    *
    * Output: one row (k, n, f_stat, eta_sq) — null F when SSW = 0.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = cents(col(valueCol))
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(x).as("__s"),
        sum(x * x).as("__q"))
    g.agg(
        count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(d(col("__s")) * d(col("__s")) / col("__n")).as("__sb"),
        sum(col("__s")).as("__S"), sum(col("__q")).as("__Q"))
      .withColumn("__ssb", col("__sb") - d(col("__S")) * d(col("__S")) / col("n"))
      .withColumn("__ssw", d(col("__Q")) - col("__sb"))
      .withColumn("__sst", d(col("__Q")) - d(col("__S")) * d(col("__S")) / col("n"))
      .select(col("k"), col("n"),
        round((col("__ssb") / (col("k") - 1)) /
          when(col("__ssw") <= 0 || col("n") <= col("k"), lit(null))
            .otherwise(col("__ssw") / (col("n") - col("k"))), 4).as("f_stat"),
        round(col("__ssb") / when(col("__sst") <= 0, lit(null)).otherwise(col("__sst")), 4)
          .as("eta_sq"))
  }

  /** Wilson score interval per group — the proportion CI that stays
    * honest at small n and extreme p̂ (the Wald interval collapses to
    * zero width at p̂∈{0,1}; Wilson is the standard replacement —
    * Brown, Cai & DasGupta 2001). center = (p̂ + z²/2n)/(1 + z²/n),
    * half-width = z/(1 + z²/n)·√(p̂(1−p̂)/n + z²/4n²). The per-cohort
    * conversion-rate report card F13's z-test compares.
    *
    * Exactness: successes/trials are exact longs from one map-side
    * combine; z is a fixed literal (1.959963984540054 at 95%), the
    * interval is one written-order double expression per group, 4dp.
    * Scale shape: one corpus scan, one group-dim aggregate — nothing
    * else.
    *
    * Output: (group, trials, successes, p_hat, ci_lo, ci_hi).
    */
  def wilsonInterval(
      df: DataFrame,
      groupCol: String,
      successCol: Column,
      z: Double = 1.959963984540054): DataFrame = {
    require(z > 0)
    df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("trials"),
        sum(when(successCol, 1L).otherwise(0L)).as("successes"))
      .withColumn("__p", d(col("successes")) / col("trials"))
      .withColumn("__den", lit(1.0) + lit(z * z) / col("trials"))
      .withColumn("__ctr",
        (col("__p") + lit(z * z) / (lit(2.0) * col("trials"))) / col("__den"))
      .withColumn("__hw",
        lit(z) / col("__den") * sqrt(
          col("__p") * (lit(1.0) - col("__p")) / col("trials") +
            lit(z * z) / (lit(4.0) * col("trials") * col("trials"))))
      .select(col("g").as(groupCol), col("trials"), col("successes"),
        round(col("__p"), 4).as("p_hat"),
        round(greatest(lit(0.0), col("__ctr") - col("__hw")), 4).as("ci_lo"),
        round(least(lit(1.0), col("__ctr") + col("__hw")), 4).as("ci_hi"))
  }

  /** Newcombe score interval for a DIFFERENCE in proportions
    * (Newcombe 1998, method 10 — the hybrid-Wilson interval): the CI
    * around p̂₁ − p̂₂ built from the two groups' Wilson bounds,
    * lo = d̂ − √((p̂₁−l₁)² + (u₂−p̂₂)²) and
    * hi = d̂ + √((u₁−p̂₁)² + (p̂₂−l₂)²). The interval to report NEXT
    * TO F13's z statistic: honest at small n and extreme rates where
    * the Wald difference interval degenerates, the same reason F66
    * replaces Wald per group.
    *
    * Exactness: exact long counts from one map-side combine; z is a
    * fixed literal; every bound is a written-order double, 4dp.
    *
    * Output: one row (n1, x1, n2, x2, p1, p2, diff, ci_lo, ci_hi).
    */
  def newcombeDiff(
      df: DataFrame,
      groupCol: String,
      successCol: Column,
      groupA: String,
      groupB: String,
      z: Double = 1.959963984540054): DataFrame = {
    require(z > 0)
    def wilson(n: Column, x: Column) = {
      val p = d(x) / n
      val den = lit(1.0) + lit(z * z) / n
      val ctr = (p + lit(z * z) / (lit(2.0) * n)) / den
      val hw = lit(z) / den * sqrt(
        p * (lit(1.0) - p) / n + lit(z * z) / (lit(4.0) * n * n))
      (p, greatest(lit(0.0), ctr - hw), least(lit(1.0), ctr + hw))
    }
    val agg = df
      .filter(col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === groupA && successCol, 1L).otherwise(0L)).as("x1"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === groupB && successCol, 1L).otherwise(0L)).as("x2"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val (p1, l1, u1) = wilson(col("n1"), col("x1"))
    val (p2, l2, u2) = wilson(col("n2"), col("x2"))
    agg.select(col("n1"), col("x1"), col("n2"), col("x2"),
      round(p1, 4).as("p1"), round(p2, 4).as("p2"),
      round(p1 - p2, 4).as("diff"),
      round(p1 - p2 - sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2)), 4)
        .as("ci_lo"),
      round(p1 - p2 + sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2)), 4)
        .as("ci_hi"))
  }

  /** Odds ratio with the Woolf log-CI — the 2×2 association measure
    * (epidemiology's native effect size, and the A/B read that is
    * invariant to which margin was sampled, unlike the risk
    * difference F68 intervals): OR = (a·d)/(b·c), and the CI comes
    * from ln(OR) ± z·√(1/a + 1/b + 1/c + 1/d). Any empty cell leaves
    * OR undefined — published null, no Haldane fudge (the caller
    * decides how to handle structural zeros).
    *
    * Exactness: four exact long cells from one map-side combine;
    * cell products ride doubles (a·d clears long range at ~3·10⁹ per
    * cell); written-order doubles, 4dp.
    *
    * Output: one row (n_a_succ, n_a_fail, n_b_succ, n_b_fail,
    * odds_ratio, ci_lo, ci_hi).
    */
  def oddsRatio(
      df: DataFrame,
      groupCol: String,
      successCol: Column,
      groupA: String,
      groupB: String,
      z: Double = 1.959963984540054): DataFrame = {
    require(z > 0)
    df.filter(col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(col(groupCol) === groupA && successCol, 1L).otherwise(0L))
          .as("n_a_succ"),
        sum(when(col(groupCol) === groupA && !successCol, 1L).otherwise(0L))
          .as("n_a_fail"),
        sum(when(col(groupCol) === groupB && successCol, 1L).otherwise(0L))
          .as("n_b_succ"),
        sum(when(col(groupCol) === groupB && !successCol, 1L).otherwise(0L))
          .as("n_b_fail"))
      .withColumn("__or",
        when(col("n_a_succ") === 0 || col("n_a_fail") === 0 ||
          col("n_b_succ") === 0 || col("n_b_fail") === 0, lit(null))
          .otherwise(d(col("n_a_succ")) * d(col("n_b_fail")) /
            (d(col("n_a_fail")) * d(col("n_b_succ")))))
      .withColumn("__se", sqrt(
        lit(1.0) / col("n_a_succ") + lit(1.0) / col("n_a_fail") +
          lit(1.0) / col("n_b_succ") + lit(1.0) / col("n_b_fail")))
      .select(col("n_a_succ"), col("n_a_fail"), col("n_b_succ"), col("n_b_fail"),
        round(col("__or"), 4).as("odds_ratio"),
        round(exp(log(col("__or")) - lit(z) * col("__se")), 4).as("ci_lo"),
        round(exp(log(col("__or")) + lit(z) * col("__se")), 4).as("ci_hi"))
  }

  /** Brown–Forsythe test — variance-homogeneity across k groups (the
    * Levene family with the MEDIAN center, the robust default):
    * W = ANOVA F computed on z = |x − median_g|. The gate BEFORE
    * F30's ANOVA (whose F assumes equal variances) and the direct
    * "did the SPREAD change" monitor a location test can't see.
    *
    * Exactness: per-group medians are the exact interpolated
    * percentile (the q50 contract — identical definition in DuckDB's
    * quantile_cont), carried in HALF-cents so even-count medians stay
    * integral; z is exact integer |2·cents − 2·median|; the group
    * moments ride decimal(38,0) (z² clears long range at extreme
    * cents); W follows anovaF's written-order double convention, 4dp.
    *
    * Scale shape: two corpus scans by necessity (medians, then
    * deviations — the textbook two-pass), both map-side-combined;
    * the k-row median dim attaches back as a broadcast join; no
    * windows, no value-grain stage.
    *
    * Output: one row (k, n, w_stat) — null W when the within-group
    * deviation variance vanishes.
    */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cents2 = (cents(col(valueCol)) * 2L).as("__c2")
    val in = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
    val med = in
      .groupBy(col(groupCol).as("__g"))
      .agg(round(percentile(cents2, lit(0.5))).cast("long").as("__m2"))
    val z = in
      .select(col(groupCol).as("__g"), cents2)
      .join(broadcast(med), "__g")
      .withColumn("__z", abs(col("__c2") - col("__m2")))
    z.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum(dec(col("__z"))).as("__s"),
        sum(dec(col("__z")) * col("__z")).as("__q"))
      .agg(
        count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(d(col("__s")) * d(col("__s")) / col("__n")).as("__sb"),
        sum(col("__s")).as("__S"), sum(col("__q")).as("__Q"))
      .withColumn("__ssb", col("__sb") - d(col("__S")) * d(col("__S")) / col("n"))
      .withColumn("__ssw", d(col("__Q")) - col("__sb"))
      .select(col("k"), col("n"),
        round((col("__ssb") / (col("k") - 1)) /
          when(col("__ssw") <= 0 || col("n") <= col("k"), lit(null))
            .otherwise(col("__ssw") / (col("n") - col("k"))), 4).as("w_stat"))
  }

  /** Welch's unequal-variance t-test — the two-sample mean test that
    * drops BOTH of the z-test's assumptions (known/equal variances):
    * t = (m̄₁−m̄₂)/√(v₁/n₁+v₂/n₂) with the Welch–Satterthwaite
    * effective df. The default A/B mean test when group sizes or
    * spreads differ.
    *
    * Exactness: per-group integer-cent (n, Σx, Σx²) from ONE
    * map-side combine; means/variances/t/df are doubles from exact
    * longs in identical op order. Output: one row (n1, n2, mean1,
    * mean2, t, df) — null t when both variances vanish.
    */
  def welchT(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val x = cents(col(valueCol))
    df.filter(col(valueCol).isNotNull && col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === groupA, x).otherwise(0L)).as("__s1"),
        sum(when(col(groupCol) === groupA, x * x).otherwise(0L)).as("__q1"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === groupB, x).otherwise(0L)).as("__s2"),
        sum(when(col(groupCol) === groupB, x * x).otherwise(0L)).as("__q2"))
      .filter(col("n1") > 1 && col("n2") > 1)
      .withColumn("__v1",
        (d(col("__q1")) - d(col("__s1")) * d(col("__s1")) / col("n1")) / (col("n1") - 1))
      .withColumn("__v2",
        (d(col("__q2")) - d(col("__s2")) * d(col("__s2")) / col("n2")) / (col("n2") - 1))
      .withColumn("__se2", col("__v1") / col("n1") + col("__v2") / col("n2"))
      .select(col("n1"), col("n2"),
        round(d(col("__s1")) / col("n1") / 100.0, 4).as("mean1"),
        round(d(col("__s2")) / col("n2") / 100.0, 4).as("mean2"),
        round((d(col("__s1")) / col("n1") - d(col("__s2")) / col("n2")) /
          when(col("__se2") <= 0, lit(null)).otherwise(sqrt(col("__se2"))), 4).as("t"),
        round(col("__se2") * col("__se2") /
          when(col("__se2") <= 0, lit(null)).otherwise(
            (col("__v1") / col("n1")) * (col("__v1") / col("n1")) / (col("n1") - 1) +
              (col("__v2") / col("n2")) * (col("__v2") / col("n2")) / (col("n2") - 1)), 4)
          .as("df"))
  }

  /** Cohen's d / Hedges' g — STANDARDIZED effect size between two
    * groups, the number a test's p-value deliberately hides:
    * d = (m̄₁−m̄₂)/s_pooled with the (n−1)-weighted pooled SD, and
    * Hedges' g = d·(1 − 3/(4(n₁+n₂)−9)), the small-sample
    * de-biasing. The report card beside F31's Welch t (is it
    * significant?) and F32's MDE (could we even have seen it?):
    * HOW BIG is it.
    *
    * Exactness: per-group integer-cent (n, Σx, Σx²) from ONE
    * map-side combine (the welchT contract); d is computed in cents
    * (the scale cancels), means/SD publish in the value's units;
    * written-order doubles, 4dp.
    *
    * Output: one row (n1, n2, mean_diff, pooled_sd, cohens_d,
    * hedges_g) — null d when the pooled variance vanishes.
    */
  def effectSize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val x = cents(col(valueCol))
    df.filter(col(valueCol).isNotNull && col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === groupA, x).otherwise(0L)).as("__s1"),
        sum(when(col(groupCol) === groupA, x * x).otherwise(0L)).as("__q1"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === groupB, x).otherwise(0L)).as("__s2"),
        sum(when(col(groupCol) === groupB, x * x).otherwise(0L)).as("__q2"))
      .filter(col("n1") > 1 && col("n2") > 1)
      .withColumn("__md",
        d(col("__s1")) / col("n1") - d(col("__s2")) / col("n2"))
      .withColumn("__sp", sqrt(
        ((d(col("__q1")) - d(col("__s1")) * d(col("__s1")) / col("n1")) +
          (d(col("__q2")) - d(col("__s2")) * d(col("__s2")) / col("n2"))) /
          (col("n1") + col("n2") - 2L)))
      .withColumn("__d",
        col("__md") / when(col("__sp") <= 0, lit(null)).otherwise(col("__sp")))
      .select(col("n1"), col("n2"),
        round(col("__md") / 100.0, 4).as("mean_diff"),
        round(col("__sp") / 100.0, 4).as("pooled_sd"),
        round(col("__d"), 4).as("cohens_d"),
        round(col("__d") *
          (lit(1.0) - lit(3.0) /
            (lit(4.0) * d(col("n1") + col("n2")) - 9.0)), 4).as("hedges_g"))
  }

  /** Poisson-bootstrap CI for a DIFFERENCE in means — the
    * uncertainty band around an A/B effect estimate (F18's machinery
    * pointed at the quantity experimenters actually report): each
    * replicate re-weights every row with the same seeded Poisson(1)
    * draw as q173, computes meanB − meanA, and the band is the
    * percentile interval over replicates. A CI excluding 0 ⇒ the
    * effect survives resampling noise.
    *
    * Scale shape: no rep fan-out — each row emits one 2·reps vector
    * per arm ([[graft.functions.RepWeightVec]]) folded by a single
    * global [[graft.functions.VectorSum]] combine that also carries
    * the base counts, so ONE pass over the data produces everything
    * and the per-rep work runs on a one-row frame.
    *
    * Output: one row (n1, n2, diff, n_reps, ci_lo, ci_hi).
    */
  def bootstrapDiffCI(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String,
      idCol: String,
      reps: Int = 64,
      salt: String = "boot",
      alphaPct: Int = 5): DataFrame = {
    require(reps > 0 && alphaPct > 0 && alphaPct < 100)
    // spread(): the md5-heavy scan must not run on the driver tables'
    // 1-2 parquet splits (the q173 single-task measurement, r16).
    val rows = spread(df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull &&
        col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), cents(col(valueCol)).as("__c"),
        col(idCol).cast("string").as("__id")))
    val isA = col("__g") === groupA
    // r17 (guide §2.3/§4): ONE aggregate pass replaces the ×reps
    // explode + separate base pass — RepWeightVec emits every rep's
    // [w·cents, w] per row (bit-identical md5 chain), VectorSum folds
    // it per arm, and the base counts ride the same aggregate. The
    // per-rep expansion and percentile then run on the one-row frame.
    // The checkpoint moves from edge-grain rows (r16) to the ONE-ROW
    // aggregate: the CI and base branches prune it differently, so
    // without the cut each would re-run the whole md5 pass.
    val st = rows
      .withColumn("_v", graft.functions.RepWeightVec.repWeightVec(
        col("__id"), col("__c"), ":" + salt + ":", reps, PoissonThresholds))
      .agg(
        graft.functions.VectorSum.vectorSum(when(isA, col("_v"))).as("_stA"),
        graft.functions.VectorSum.vectorSum(when(!isA, col("_v"))).as("_stB"),
        sum(when(isA, 1L).otherwise(0L)).as("n1"),
        sum(when(isA, col("__c")).otherwise(0L)).as("__sA"),
        sum(when(!isA, 1L).otherwise(0L)).as("n2"),
        sum(when(!isA, col("__c")).otherwise(0L)).as("__sB"))
      .localCheckpoint()
    val repDiffs = st
      .select(explode(transform(
        sequence(lit(0), lit(reps - 1)),
        r => struct(
          element_at(col("_stA"), r + 1).as("__wsA"),
          element_at(col("_stA"), r + reps + 1).as("__wnA"),
          element_at(col("_stB"), r + 1).as("__wsB"),
          element_at(col("_stB"), r + reps + 1).as("__wnB")))).as("_r"))
      .filter(col("_r.__wnA") > 0 && col("_r.__wnB") > 0)
      .withColumn("__diff",
        d(col("_r.__wsB")) / d(col("_r.__wnB")) / 100.0 -
          d(col("_r.__wsA")) / d(col("_r.__wnA")) / 100.0)
    val lo = alphaPct / 200.0
    val hi = 1.0 - lo
    val ci = repDiffs.agg(
      count(lit(1)).as("n_reps"),
      round(expr(s"percentile(__diff, $lo)"), 4).as("ci_lo"),
      round(expr(s"percentile(__diff, $hi)"), 4).as("ci_hi"))
    val base = st.select(col("n1"), col("n2"),
      round(d(col("__sB")) / col("n2") / 100.0 -
        d(col("__sA")) / col("n1") / 100.0, 4).as("diff"))
    base.crossJoin(broadcast(ci))
  }

  /** Minimum detectable effect for a two-group mean test — the
    * experiment-sizing report: at α=0.05 (two-sided) and 80% power,
    * the smallest true mean gap this sample could reliably detect is
    * (z₀.₉₇₅+z₀.₈)·√(v₁/n₁+v₂/n₂) ≈ 2.801585·SE. Run BEFORE an A/B
    * readout: an observed "no difference" is only meaningful down to
    * the MDE.
    *
    * Exactness: ONE corpus aggregate of exact integer-cent sums (the
    * welchT shape); the z-quantiles are fixed literals (1.959964,
    * 0.841621); doubles only in the final projection, 4dp.
    *
    * Output: one row (n1, n2, mean1, se, mde_abs, mde_rel).
    */
  def minDetectableEffect(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val x = cents(col(valueCol))
    val zSum = 1.959964 + 0.841621
    df.filter(col(valueCol).isNotNull && col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("n1"),
        sum(when(col(groupCol) === groupA, x).otherwise(0L)).as("__s1"),
        sum(when(col(groupCol) === groupA, x * x).otherwise(0L)).as("__q1"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("n2"),
        sum(when(col(groupCol) === groupB, x).otherwise(0L)).as("__s2"),
        sum(when(col(groupCol) === groupB, x * x).otherwise(0L)).as("__q2"))
      .filter(col("n1") > 1 && col("n2") > 1)
      .withColumn("__v1",
        (d(col("__q1")) - d(col("__s1")) * d(col("__s1")) / col("n1")) / (col("n1") - 1))
      .withColumn("__v2",
        (d(col("__q2")) - d(col("__s2")) * d(col("__s2")) / col("n2")) / (col("n2") - 1))
      .withColumn("__m1", d(col("__s1")) / col("n1"))
      .withColumn("__se", sqrt(col("__v1") / col("n1") + col("__v2") / col("n2")))
      .select(col("n1"), col("n2"),
        round(col("__m1") / 100.0, 4).as("mean1"),
        round(col("__se") / 100.0, 4).as("se"),
        round(lit(zSum) * col("__se") / 100.0, 4).as("mde_abs"),
        round(lit(zSum) * col("__se") /
          when(col("__m1") === 0, lit(null)).otherwise(col("__m1")), 4).as("mde_rel"))
  }

  /** Holt linear-trend (double exponential smoothing) one-step
    * backtest — the trend-aware upgrade of D18's EWMA backtest: state
    * (level, trend) with alpha = beta = 1/2, forecast f_t = l + b,
    * then l' = floor((y_t + f_t)/2), b' = floor(((l' - l) + b)/2).
    *
    * Determinism: the whole recursion runs in INTEGER micro-units
    * with floor-of-double halving (micro values < 2^52, so the
    * double division is exact and floor() agrees in any engine — no
    * div/% sign traps, no float drift); absolute errors sum as exact
    * longs; the two outputs are one 4dp division each.
    *
    * Scale shape: one (keys) combine collects each series (keyed
    * series are DIM-BOUNDED by contract — day-grain rows per key,
    * same bound as every D-family series op), and the fold runs
    * in-row over the sorted array: no window, no join, no second
    * exchange. Init: l = y_1, b = 0; keys with < 2 points drop.
    *
    * Output: (keys..., n_forecasts, mae, forecast_next).
    */
  def holtBacktest(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    series
      .select(keys.map(col) :+
        struct(col(xCol).as("x"),
          (round(col(yCol)).cast("long") * 1000000L).as("yu")).as("__p"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .filter(size(col("__ps")) >= 2)
      .withColumn("__st", expr(
        """aggregate(
          |  transform(slice(__ps, 2, size(__ps) - 1), p -> p.yu),
          |  named_struct(
          |    'l', element_at(__ps, 1).yu, 'b', 0L, 'se', 0L, 'n', 0L),
          |  (a, yu) -> named_struct(
          |    'l', CAST(floor((yu + a.l + a.b) / 2.0) AS BIGINT),
          |    'b', CAST(floor(((CAST(floor((yu + a.l + a.b) / 2.0) AS BIGINT)
          |                      - a.l) + a.b) / 2.0) AS BIGINT),
          |    'se', a.se + abs(yu - a.l - a.b),
          |    'n', a.n + 1L))""".stripMargin))
      .select(keys.map(col) ++ Seq(
        col("__st.n").as("n_forecasts"),
        round(d(col("__st.se")) / col("__st.n") / 1e6, 4).as("mae"),
        // integer-grain publish (the q321 halfway-flip contract):
        // micro/1e6 rounded at 4dp flips engines when micro ends in
        // exactly 50; micro/100.0 is exact at halves, so round there
        (round(d(col("__st.l") + col("__st.b")) / 100.0).cast("long")
          / 10000.0).as("forecast_next")): _*)
  }

  /** Croston's method (1972) for INTERMITTENT demand — the forecast
    * for series that are mostly zero (per-user daily activity, spare
    * parts, long-tail SKUs), where Holt/EWMA on the dense series just
    * decays to zero between demands. Croston smooths two separate
    * series sampled only AT demand points: the nonzero demand size
    * z and the inter-demand interval p, each with α = 1/2; the
    * per-period forecast is z/p.
    *
    * Input is the sparse frame itself (one row per nonzero demand
    * point) — zeros are never materialized, which is the point: at
    * 100 TB the dense calendar scaffold is exactly the blow-up the
    * reference's formulation pays for. Intervals come from a lag
    * window riding the same (keys) exchange the fold's collect needs;
    * the first point's interval is 1 by convention (the series starts
    * at its first demand).
    *
    * Portability: the D21 Holt fold contract — per-key sorted-array
    * fold, state in integer micro-units, halving via floor-of-double,
    * and BOTH state fields are self-field + element only (z from z,
    * p from p), the one list_reduce shape the oracle engine evaluates
    * correctly. Keys with one demand publish the seed itself.
    *
    * Output: (keys..., n_demands, size_hat 4dp, interval_hat 4dp,
    * forecast 4dp — demand per period). The two micro-unit states
    * publish via INTEGER-grain rounding (round(micro/100)/10⁴):
    * `round(micro/1e6, 4)` flips engines when micro ends in exactly
    * 50 — micro/1e6 is then a non-representable decimal half that
    * Spark's BigDecimal render rounds up and a binary-double round
    * rounds down (bit q321 at sf0.1, row user 660: 1.25595 → 1.256
    * vs 1.2559). micro/100.0 IS exact at halves (X.5, X < 2⁵²), so
    * both engines agree. `forecast` is a genuine ratio — never
    * exactly half — and stays a plain 4dp round.
    */
  def croston(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(xCol))
    series
      .withColumn("__gu",
        coalesce(col(xCol).cast("long") - lag(col(xCol).cast("long"), 1).over(w),
          lit(1L)) * 1000000L)
      .select(keys.map(col) :+
        struct(col(xCol).as("x"), col("__gu").as("gu"),
          (round(col(yCol)).cast("long") * 1000000L).as("yu")).as("__p"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .withColumn("__st", expr(
        """aggregate(
          |  slice(__ps, 2, size(__ps) - 1),
          |  named_struct(
          |    'z', element_at(__ps, 1).yu,
          |    'p', element_at(__ps, 1).gu, 'n', 1L),
          |  (a, e) -> named_struct(
          |    'z', CAST(floor((a.z + e.yu) / 2.0) AS BIGINT),
          |    'p', CAST(floor((a.p + e.gu) / 2.0) AS BIGINT),
          |    'n', a.n + 1L))""".stripMargin))
      .select(keys.map(col) ++ Seq(
        col("__st.n").as("n_demands"),
        (round(d(col("__st.z")) / 100.0).cast("long") / 10000.0)
          .as("size_hat"),
        (round(d(col("__st.p")) / 100.0).cast("long") / 10000.0)
          .as("interval_hat"),
        round(d(col("__st.z")) / d(col("__st.p")), 4).as("forecast")): _*)
  }
  /** Wilder's RSI per keyed series — the momentum oscillator
    * (Wilder 1978): seed avgGain/avgLoss with the simple mean of the
    * first `period` deltas' gains/losses, then smooth each subsequent
    * delta as avg' = (avg·(p−1) + new)/p; RSI = 100 − 100/(1 + RS),
    * RS = avgGain/avgLoss. Completes the D18/D21 smoothing family
    * with the bounded [0,100] overbought/oversold read.
    *
    * Portability: the D21 Holt contract — one per-key sorted-array
    * fold, state in integer micro-units, every division a
    * floor-of-double (engine-identical; int div is not) — with one
    * HARD constraint the Holt fold never hit: the oracle engine's
    * struct-state list_reduce mis-evaluates CONDITIONALS that read
    * accumulator fields (probed: `CASE WHEN acc.i = 1` never fires;
    * pure arithmetic and greatest() are fine). So the seed phase is
    * hoisted OUT of the fold — the simple-mean seed comes from an
    * unconditional delta-sum over the first `period` gaps, and the
    * fold proper is branch-free smoothing arithmetic only.
    * avgLoss = 0 publishes RSI = 100 (RS → ∞, the standard
    * convention); series shorter than period+1 points publish null.
    *
    * Scale shape: one (keys) exchange into calendar-bounded in-row
    * arrays; seeds and the fold are row-local arithmetic.
    *
    * Output: (keys..., n_points, rsi).
    */
  def rsi(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      period: Int = 14): DataFrame = {
    require(period >= 1)
    val p = period
    def seedSum(gain: Boolean): String = {
      val diff = if (gain) "element_at(__ys, i) - element_at(__ys, i - 1)"
      else "element_at(__ys, i - 1) - element_at(__ys, i)"
      s"""aggregate(
         |  transform(sequence(2, ${p + 1}), i -> greatest($diff, 0L)),
         |  0L, (a, x) -> a + x)""".stripMargin
    }
    series
      .select(keys.map(col) :+
        struct(col(xCol).as("x"),
          round(col(yCol)).cast("long").as("y")).as("__p"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .withColumn("n_points", size(col("__ps")).cast("long"))
      .withColumn("__ys", expr("transform(__ps, q -> q.y)"))
      .withColumn("__st", when(col("n_points") >= p + 1, expr(
        s"""aggregate(
           |  slice(__ys, ${p + 2}, size(__ys) - ${p + 1}),
           |  named_struct(
           |    'prev', element_at(__ys, ${p + 1}),
           |    'ag', CAST(floor((${seedSum(gain = true)}) * 1000000.0 / $p.0) AS BIGINT),
           |    'al', CAST(floor((${seedSum(gain = false)}) * 1000000.0 / $p.0) AS BIGINT)),
           |  (a, y) -> named_struct(
           |    'prev', y,
           |    'ag', CAST(floor((a.ag * ${p - 1}L
           |      + greatest(y - a.prev, 0L) * 1000000L) / $p.0) AS BIGINT),
           |    'al', CAST(floor((a.al * ${p - 1}L
           |      + greatest(a.prev - y, 0L) * 1000000L) / $p.0) AS BIGINT)))""".stripMargin)))
      .select(keys.map(col) ++ Seq(
        col("n_points"),
        round(
          when(col("__st").isNull, lit(null))
            .when(col("__st.al") === 0L, lit(100.0))
            .otherwise(lit(100.0) - lit(100.0) /
              (lit(1.0) + d(col("__st.ag")) / d(col("__st.al")))), 4)
          .as("rsi")): _*)
  }

  /** MACD per keyed series (Appel's moving-average convergence/
    * divergence): fast EMA − slow EMA, with a signal EMA over the
    * MACD series and the histogram (macd − signal) — the trend-
    * momentum crossover read beside D25's bounded RSI. Standard
    * (12, 26, 9) periods; each EMA uses α = 2/(n+1) seeded with the
    * series' first value (the convention that needs no warm-up
    * window).
    *
    * Portability: one per-key sorted-array fold carrying
    * (ema_fast, ema_slow, signal) in integer micro-units — ALL
    * arithmetic, no accumulator conditionals (the q301/CLAUDE.md
    * list_reduce constraint); every step is two integer products and
    * a floor-of-double division per EMA.
    *
    * Output: (keys..., n_points, macd, signal, histogram) — 4dp
    * values in the series' units.
    */
  def macd(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      fast: Int = 12,
      slow: Int = 26,
      signalP: Int = 9): DataFrame = {
    require(fast >= 1 && slow > fast && signalP >= 1)
    def ema(prev: String, y: String, n: Int): String =
      s"CAST(floor(($prev * ${n - 1}L + 2L * $y) / ${n + 1}.0) AS BIGINT)"
    series
      .select(keys.map(col) :+
        struct(col(xCol).as("x"),
          (round(col(yCol)).cast("long") * 1000000L).as("yu")).as("__p"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .withColumn("n_points", size(col("__ps")).cast("long"))
      .withColumn("__st", expr(
        s"""aggregate(
           |  transform(slice(__ps, 2, size(__ps) - 1), q -> q.yu),
           |  named_struct(
           |    'ef', element_at(__ps, 1).yu,
           |    'es', element_at(__ps, 1).yu,
           |    'sig', 0L),
           |  (a, yu) -> named_struct(
           |    'ef', ${ema("a.ef", "yu", fast)},
           |    'es', ${ema("a.es", "yu", slow)},
           |    'sig', ${ema("a.sig",
                  s"""(${ema("a.ef", "yu", fast)} - ${ema("a.es", "yu", slow)})""",
                  signalP)}))""".stripMargin))
      .select(keys.map(col) ++ Seq(
        col("n_points"),
        (round(d(col("__st.ef") - col("__st.es")) / 100.0).cast("long")
          / 10000.0).as("macd"),
        (round(d(col("__st.sig")) / 100.0).cast("long") / 10000.0)
          .as("signal"),
        (round((d(col("__st.ef") - col("__st.es")) - d(col("__st.sig")))
          / 100.0).cast("long") / 10000.0)
          .as("histogram")): _*)
  }

  /** MASE backtest — Hyndman & Koehler 2006's scale-free forecast
    * skill: the D21 Holt one-step MAE divided by the SEASONAL-NAIVE
    * MAE (|y_t − y_{t−period}| averaged over the same series), the
    * denominator every forecasting bake-off normalizes by. mase < 1
    * = the model beats "same day last week"; > 1 = the fancy model
    * is losing to a lookup.
    *
    * Determinism: both MAEs are exact long micro-unit sums (the Holt
    * fold's |err| units and the naive lag diffs); the ratio is one
    * 4dp division. Scale shape: the naive side is one lag window on
    * the (keys) exchange + a keys combine; the Holt side is D21's
    * in-row fold; the two key-grain tables meet id-keyed.
    *
    * Output: (keys..., n_forecasts, mae_model, mae_naive, mase).
    */
  def maseBacktest(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 1)
    val holt = holtBacktest(series, keys, xCol, yCol)
      .select(keys.map(col) :+ col("n_forecasts") :+ col("mae").as("mae_model"): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(xCol))
    val naive = series
      .withColumn("__yu", round(col(yCol)).cast("long") * 1000000L)
      .withColumn("__lag", lag(col("__yu"), period).over(w))
      .filter(col("__lag").isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__nn"),
        sum(abs(col("__yu") - col("__lag"))).as("__sn"))
      .filter(col("__nn") > 0 && col("__sn") > 0)
      .select(keys.map(col) :+
        round(d(col("__sn")) / col("__nn") / 1e6, 4).as("mae_naive"): _*)
    holt.join(naive, keys)
      .withColumn("mase",
        round(col("mae_model") / col("mae_naive"), 4))
  }

  /** One-step-ahead EWMA forecast backtest per keyed series — the
    * forecast-skill report for D6's half-life smoother: predict each
    * point from the EWMA of everything BEFORE it, then score MAE and
    * MAPE. A model that can't beat its own smoothed history on the
    * past shouldn't forecast the future.
    *
    * Determinism: the EWMA is the ordered cumulative closed form
    * (engine-identical doubles); per-point errors are then quantized
    * to integer micro-units so the MAE/MAPE sums are exact longs and
    * no float fold-order can differ. One (keys) exchange carries the
    * smoother, the lag, and the rollup. MAPE skips y ≤ 0 points
    * (reported as n_skipped).
    *
    * Output: keys ++ (n_forecasts, n_skipped, mae, mape).
    */
  def ewmaBacktest(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(xCol))
    ewmaHalf(series, keys, xCol, yCol, out = "__s")
      .withColumn("__f", lag(col("__s"), 1).over(w))
      .filter(col("__f").isNotNull)
      .withColumn("__errU", abs(round((d(col(yCol)) - col("__f")) * 1e6)).cast("long"))
      .withColumn("__apeU",
        when(d(col(yCol)) > 0,
          abs(round((d(col(yCol)) - col("__f")) / d(col(yCol)) * 1e6))).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_forecasts"),
        sum(when(col("__apeU").isNull, 1L).otherwise(0L)).as("n_skipped"),
        sum(col("__errU")).as("__se"),
        sum(col("__apeU")).as("__sa"),
        count(col("__apeU")).as("__na"))
      .select(keys.map(col) ++ Seq(col("n_forecasts"), col("n_skipped"),
        round(d(col("__se")) / col("n_forecasts") / 1e6, 4).as("mae"),
        round(d(col("__sa")) /
          when(col("__na") === 0, lit(null)).otherwise(d(col("__na"))) / 1e6, 4)
          .as("mape")): _*)
  }

  /** Pairwise Pearson correlation matrix over k numeric columns in
    * ONE scan — the multi-metric dependence screen (which measures
    * move together?) that k² separate corr queries would re-scan the
    * corpus for. Listwise deletion: a row enters the matrix only if
    * EVERY column is non-null, so all pairs share one n and the
    * matrix is positive semi-definite.
    *
    * Exactness: values quantize to integer cents; all k + k(k+1)/2
    * moment sums accumulate in decimal(38,0) (the D9 contract —
    * exact, associative, overflow-safe past long range); each r is
    * one double expression at the end, 4dp. Scale shape: a single
    * aggregate node (map-side combined, O(k²) state), then a stack
    * over the ONE-row result — the corpus is touched once, there is
    * no join and no window.
    *
    * Output: (col_a, col_b, n, r), one row per unordered pair.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val kept = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    def v(c: String) = dec(cents(col(c)))
    val aggs = count(lit(1)).as("__n") +:
      (cols.map(c => sum(v(c)).as(s"__s_$c")) ++
        (for (i <- cols.indices; j <- i until cols.size)
          yield sum(v(cols(i)) * v(cols(j))).as(s"__p_${cols(i)}_${cols(j)}")))
    val one = kept.agg(aggs.head, aggs.tail: _*)
    val n = dec(col("__n"))
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.size) yield {
      val (a, b) = (cols(i), cols(j))
      val num = n * col(s"__p_${a}_$b") - col(s"__s_$a") * col(s"__s_$b")
      val da = n * col(s"__p_${a}_$a") - col(s"__s_$a") * col(s"__s_$a")
      val db = n * col(s"__p_${b}_$b") - col(s"__s_$b") * col(s"__s_$b")
      val den = sqrt(d(da) * d(db))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").cast("long").as("n"),
        round(d(num) / when(den === 0, lit(null)).otherwise(den), 4).as("r"))
    }
    one.select(explode(array(pairs: _*)).as("__e")).select(col("__e.*"))
  }

  /** Durbin–Watson residual-autocorrelation diagnostic per keyed
    * series — DW = Σ(e_t − e_{t−1})² / Σe_t² over the residuals of
    * D9's least-squares fit (≈2 independent, →0 positively
    * autocorrelated, →4 negatively): the test that says whether
    * linearTrend's straight line actually explains the series or
    * left structure behind (Durbin & Watson 1950).
    *
    * Determinism: residuals use the 4dp-ROUNDED slope/intercept that
    * linearTrend already publishes (both engines fit the same
    * rounded line), then quantize to integer micro-units, so both DW
    * sums are exact longs and the single division is engine-exact.
    *
    * Scale shape: the series is eager-cut (it feeds the fit AND the
    * residual pass); the trend table is keys-grain (broadcast); the
    * lag window rides ONE (keys) exchange. Micro-unit residual squares
    * ride decimal(38,0) (sf0.1 already overflows a long — the
    * corpus-moment contract).
    *
    * Output: keys ++ (n_points, dw).
    */
  def durbinWatson(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val s = series.localCheckpoint()
    val trend = linearTrend(s, keys, xCol, yCol)
      .select((keys.map(col) :+ col("slope") :+ col("intercept")): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(xCol)
    s.join(broadcast(trend), keys)
      .withColumn("__e",
        round((d(col(yCol)) - (col("intercept") + col("slope") * d(col(xCol)))) * 1e6)
          .cast("long"))
      .withColumn("__de",
        dec(col("__e") - lag(col("__e"), 1).over(w)))
      .withColumn("__ed", dec(col("__e")))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("__de") * col("__de")).as("__num"),
        sum(col("__ed") * col("__ed")).as("__den"))
      .select(keys.map(col) ++ Seq(col("n_points"),
        round(d(col("__num")) /
          when(col("__den") === 0, lit(null)).otherwise(d(col("__den"))), 4)
          .as("dw")): _*)
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test — the location-shift
    * companion to F25's KS (which sees any shape change; this asks
    * specifically "does one group's distribution sit higher?") with
    * no normality assumption, unlike F13's z-test on means. Computes
    * U, and the tie-corrected normal approximation z.
    *
    * Exactness: values collapse to integer-cent grain with per-group
    * counts, average ranks are carried as the INTEGER 2·rank (r2 =
    * 2·cum_before + ties + 1), so 2U₁ = Σc₁·r2 − n₁(n₁+1) is an
    * exact long; the tie-correction Σ(t³−t) (t = per-value tie count)
    * rides decimal(38,0), exact past the ~2.1M ties of one value where
    * t³ leaves long range.
    * Doubles enter only in σ and the final z, same op order both
    * engines, 4dp.
    *
    * Scale shape: value-grain collapse (eager-cut, one corpus scan),
    * cumulative window over DISTINCT quantized values (range-bounded,
    * as ksTest), one-row output.
    *
    * Output: (n1, n2, u, z) — z null when every value ties.
    */
  def mannWhitney(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    grainGuarded(pts, cumRows, "mannWhitney")
      .withColumn("__t", col("c1") + col("c2"))
      .withColumn("__r2", midrank2(byValue, col("__t"), col("__t")))
      .agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("__r2")).as("__r2sum1"),
        tieCube(col("__t")).as("__ties"))
      .withColumn("__twoU1",
        col("__r2sum1") - col("n1") * (col("n1") + 1L))
      .withColumn("__n", col("n1") + col("n2"))
      .withColumn("__var",
        d(col("n1")) * d(col("n2")) / 12.0 *
          (d(col("__n") + 1L) -
            d(col("__ties")) / (d(col("__n")) * d(col("__n") - 1L))))
      .select(col("n1"), col("n2"),
        round(d(col("__twoU1")) / 2.0, 4).as("u"),
        round(d(col("__twoU1") - col("n1") * col("n2")) /
          when(col("__var") <= 0, lit(null)).otherwise(lit(2.0) * sqrt(col("__var"))), 4)
          .as("z"))
  }

  /** Cliff's delta ordinal effect size (F73) — HOW MUCH does group A
    * stochastically dominate group B, the magnitude companion to
    * [[mannWhitney]]'s significance-only z: δ = (#(a>b) − #(a<b)) /
    * (n1·n2) = (2U1 − n1·n2)/(n1·n2) on midrank U, and the
    * common-language effect size Â = U1/(n1·n2) = P(a>b) + ½P(a=b).
    * A huge corpus makes every z "significant"; δ is the number that
    * says whether anyone should care.
    *
    * Exactness: rides mannWhitney's integer double-rank 2U1 — the
    * numerator 2U1 − n1·n2 is EXACT integer, carried in
    * decimal(38,0) (n1·n2 overflows long past ~3·10⁹ rows, the
    * corpus-moment contract); δ and Â are single final divisions
    * (true-ratio class, 4dp). The |δ| magnitude band (Romano et al.
    * 0.147/0.33/0.474 cuts) is decided by exact INTEGER cross
    * products — 1000·|num| vs k·n1·n2 — so a boundary value can
    * never ulp-flip the label.
    *
    * Scale shape: identical to mannWhitney — one scan to (value)
    * grain, one bounded value-ordered window, one-row reduce.
    *
    * Output: one row (n1, n2, delta, a_hat, magnitude).
    */
  def cliffsDelta(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    grainGuarded(pts, cumRows, "cliffsDelta")
      .withColumn("__t", col("c1") + col("c2"))
      .withColumn("__r2", midrank2(byValue, col("__t"), col("__t")))
      .agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(dec(col("c1")) * dec(col("__r2"))).as("__r2sum1"))
      .withColumn("__twoU1",
        col("__r2sum1") - dec(col("n1")) * dec(col("n1") + 1L))
      .withColumn("__den", dec(col("n1")) * dec(col("n2")))
      .withColumn("__num", col("__twoU1") - col("__den"))
      .withColumn("__absk", abs(col("__num")) * lit(1000L))
      .select(col("n1"), col("n2"),
        round(d(col("__num")) / d(col("__den")), 4).as("delta"),
        round(d(col("__twoU1")) / (lit(2.0) * d(col("__den"))), 4).as("a_hat"),
        when(col("__absk") < col("__den") * 147L, "negligible")
          .when(col("__absk") < col("__den") * 330L, "small")
          .when(col("__absk") < col("__den") * 474L, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** Kruskal–Wallis H test — the k-group generalization of F27's
    * Mann–Whitney (and the rank-based sibling of F30's ANOVA F):
    * H = 12/(N(N+1))·Σ R²_g/n_g − 3(N+1) on average ranks of the
    * pooled integer-cent values, with the standard tie correction
    * H/(1 − Σ(t³−t)/(N³−N)). The omnibus "do ANY of these k cohorts'
    * distributions differ" gate with no normality assumption.
    *
    * Exactness: average ranks are carried as the INTEGER
    * 2·rank = 2·cumBefore + t + 1 (the mannWhitney/spearman
    * convention); per-group rank sums ride decimal(38,0) (2R_g ≤
    * N(N+1) clears long range past ~3·10⁹ rows), tie cubes ride
    * decimal too (the corpus-moment contract). H then follows the
    * anovaF double convention: per-group terms are exact-input
    * doubles, one ordered expression both engines mirror, 4dp.
    *
    * Scale shape: ONE corpus scan collapses to (value, group) grain
    * (map-side combine); cumBefore and the tie count are RANGE frames
    * on a single value-ordered window over that table (one sort, one
    * single-partition stage at value×k grain — ValueGrainCap-guarded,
    * the ksTest contract); the tie rollup reuses the same
    * checkpointed table. No joins, no corpus re-scan.
    *
    * Output: one row (k, n, h, h_adj) — null h_adj when ties consume
    * the whole pooled sample.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(cents(col(valueCol)).as("v"), col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val ranked = grainGuarded(pts, byValue, "kruskalWallis")
      // peers of v across ALL groups = the value's pooled tie count
      .withColumn("__t", tieCount(byValue, col("n")))
      .withColumn("__r2", midrank2(byValue, col("n"), col("__t")))
    val perG = ranked.groupBy("g")
      .agg(sum("n").as("__ng"),
        sum(dec(col("n")) * col("__r2")).as("__s2"))
    val ties = pts.groupBy("v").agg(sum("n").as("__t"))
      .agg(tieCube(col("__t")).as("__tie3"))
    perG
      .agg(
        count(lit(1)).as("k"), sum("__ng").as("n"),
        sum(d(col("__s2")) * d(col("__s2")) / 4.0 / col("__ng")).as("__rr"))
      .crossJoin(broadcast(ties))
      .withColumn("__h",
        lit(12.0) * col("__rr") / (d(col("n")) * d(col("n") + 1L)) -
          lit(3.0) * d(col("n") + 1L))
      .withColumn("__c",
        lit(1.0) - d(col("__tie3")) /
          (d(col("n")) * d(col("n")) * d(col("n")) - d(col("n"))))
      .select(col("k"), col("n"),
        round(col("__h"), 4).as("h"),
        round(col("__h") /
          when(col("__c") <= 0, lit(null)).otherwise(col("__c")), 4).as("h_adj"))
  }

  /** Friedman test — the repeated-measures member of the rank-test
    * family (F27 Mann–Whitney = 2 independent groups, F63
    * Kruskal–Wallis = k independent, Friedman = k TREATMENTS measured
    * in every BLOCK): within each block the k treatment values are
    * ranked (average ranks on ties), χ²_F = 12/(nk(k+1))·ΣR²_j −
    * 3n(k+1), with Conover's tie correction
    * χ²/(1 − ΣT/(nk(k²−1))), ΣT = Σ_blocks Σ(t³−t). The "does any
    * treatment consistently rank higher across blocks" gate that
    * ignores between-block level shifts entirely.
    *
    * Blocks with a missing treatment are zero-filled from the dense
    * block×treatment cross (a treatment absent that day genuinely
    * measured zero — the same stance as kendallTau's dense calendar).
    *
    * Exactness: average ranks ride the INTEGER 2·rank convention;
    * rank sums and their squares are exact longs (bounded by
    * block-dim × treatment-dim, never the corpus); χ² is one
    * written-order double expression, 4dp.
    *
    * Scale shape: ONE corpus scan collapses to (block, treatment)
    * grain (dim-bounded); the dense fill is a broadcast cross of two
    * dim tables; ranks are RANGE frames on a window PARTITIONED BY
    * block (thousands of small sorts, no single-task stage); two
    * dim-grain aggregates finish.
    *
    * Output: one row (n_blocks, k, chi2, chi2_adj) — null chi2_adj
    * when ties consume every block.
    */
  def friedman(
      df: DataFrame,
      blockCol: Column,
      treatCol: Column): DataFrame = {
    val ranked = blockMidranks(df, blockCol, treatCol)
    val perT = ranked.groupBy("g").agg(sum("__r2").as("__s2"))
      .agg(count(lit(1)).as("k"),
        sum(col("__s2") * col("__s2")).as("__rr4")) // 4·ΣR² exactly
    // Σ over tie GROUPS of (t³−t): each group of size t contributes t
    // rows that all carry __t = t, so the group's t³−t is exactly the
    // row-wise sum of t²−1 — no per-group rollup needed
    val ties = ranked.agg(
      sum(col("__t") * col("__t") - lit(1L)).as("__tsum"),
      countDistinct(col("b")).as("n_blocks"))
    perT.crossJoin(broadcast(ties))
      .withColumn("__chi2",
        lit(12.0) * (d(col("__rr4")) / 4.0) /
          (d(col("n_blocks")) * d(col("k")) * d(col("k") + 1L)) -
          lit(3.0) * d(col("n_blocks")) * d(col("k") + 1L))
      .withColumn("__c",
        lit(1.0) - d(col("__tsum")) /
          (d(col("n_blocks")) * d(col("k")) *
            (d(col("k")) * d(col("k")) - 1.0)))
      .select(col("n_blocks"), col("k"),
        round(col("__chi2"), 4).as("chi2"),
        round(col("__chi2") /
          when(col("__c") <= 0, lit(null)).otherwise(col("__c")), 4)
          .as("chi2_adj"))
  }

  /** Theil–Sen robust slope per keyed series — the median of all
    * pairwise slopes (y_j−y_i)/(x_j−x_i), the 29%-breakdown trend
    * estimator that one outlier year cannot move (Theil 1950; Sen
    * 1968). The robust companion to D9's least-squares linearTrend.
    *
    * Scale shape: the series collapses to one in-row array per key
    * (x-grain must be CALENDAR-BOUNDED — years, days — so the O(m²)
    * slope expansion is bounded by the calendar, never the corpus);
    * slopes, sort, and the median pick are all in-row expressions on
    * that array. One (keys) exchange total. Each pair's slope is ONE
    * double division of exact longs, and both engines sort the SAME
    * doubles — order and median are engine-portable. x must be
    * distinct within a key (a grain, not raw observations).
    *
    * Output: keys ++ (n_points, n_slopes, slope).
    */
  def theilSen(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val arr = series
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y")))).as("__a"),
        count(lit(1)).as("n_points"))
    arr
      .withColumn("__s", sort_array(flatten(transform(col("__a"), (p, i) =>
        transform(slice(col("__a"), i + lit(2), size(col("__a"))), q =>
          d(q.getField("y") - p.getField("y")) /
            (q.getField("x") - p.getField("x")))))))
      .withColumn("n_slopes", size(col("__s")).cast("long"))
      .filter(col("n_slopes") > 0)
      .withColumn("slope", round(
        when(col("n_slopes") % 2 === 1,
          element_at(col("__s"), ((col("n_slopes") + 1) / 2).cast("int")))
          .otherwise((element_at(col("__s"), (col("n_slopes") / 2).cast("int")) +
            element_at(col("__s"), (col("n_slopes") / 2 + 1).cast("int"))) / 2), 4))
      .select(keys.map(col) ++ Seq(col("n_points"), col("n_slopes"), col("slope")): _*)
  }

  /** Mann–Kendall trend test per keyed series — the SIGNIFICANCE
    * companion to D15's Theil–Sen slope (the classic pairing in
    * environmental/ops trend monitoring): S = Σ_{i<j} sign(y_j−y_i)
    * over the x-ordered series, tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    * continuity-corrected z = (S∓1)/√Var(S). Detects ANY monotone
    * trend with no linearity or normality assumption.
    *
    * Exactness: S is an exact long sum of {−1,0,1}; the variance is
    * a ratio of exact longs (n is calendar-bounded, so n³ sits far
    * inside long range); z is one double division, 4dp.
    *
    * Scale shape: the theilSen contract — the series collapses to one
    * in-row array per key (x-grain must be CALENDAR-BOUNDED), the
    * O(m²) sign expansion is in-row arithmetic on that array; the tie
    * rollup is a second key-grain aggregate of the same checkpointed
    * series and joins back at KEY grain. Two key-grain exchanges, the
    * corpus-sized input is touched once.
    *
    * Output: keys ++ (n_points, s_stat, var_s, z) — null z when the
    * variance vanishes (fully tied series).
    */
  def mannKendall(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    // the input feeds the pair expansion AND the tie rollup — eager
    // cut so the (possibly expensive) series derivation runs once
    val s0 = series
      .select((keys.map(col) :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y")): _*)
      .localCheckpoint()
    val arr = s0
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__x").as("x"), col("__y").as("y"))))
        .as("__a"), count(lit(1)).as("n_points"))
      .withColumn("s_stat", aggregate(
        flatten(transform(col("__a"), (p, i) =>
          transform(slice(col("__a"), i + lit(2), size(col("__a"))), q =>
            signum(q.getField("y") - p.getField("y")).cast("long")))),
        lit(0L), (acc, x) => acc + x))
    val ties = s0
      .groupBy((keys.map(col) :+ col("__y")): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__t") * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L))
        .as("__tsum"))
    arr.join(ties, keys)
      .withColumn("__var",
        d(col("n_points") * (col("n_points") - 1L) *
          (lit(2L) * col("n_points") + 5L) - col("__tsum")) / 18.0)
      .select(keys.map(col) ++ Seq(
        col("n_points"), col("s_stat"),
        round(col("__var"), 4).as("var_s"),
        round(
          when(col("__var") <= 0, lit(null))
            .otherwise(when(col("s_stat") > 0, d(col("s_stat") - 1L))
              .when(col("s_stat") < 0, d(col("s_stat") + 1L))
              .otherwise(lit(0.0)) / sqrt(col("__var"))), 4).as("z")): _*)
  }

  /** Spearman rank correlation per key — Pearson r on the AVERAGE
    * ranks of two integral columns: monotone association robust to
    * any monotone transform and to outliers, where D9/E9's Pearson
    * sees only linearity. Average ranks are carried as the INTEGER
    * 2·rank_min + ties − 1 (twice the average rank — scale/shift
    * cancel in r), so every correlation sum is an exact long and the
    * single double division lands identically on any engine.
    *
    * Scale shape: both rank windows and the tie-count windows ride
    * ONE (keys) exchange (same partitioning, per-order sorts); the
    * moment rollup rides it too. O(1) window state throughout —
    * a hot key costs its own sort, never cross-key state. Rank sums
    * are longs; rank SQUARES ride decimal(38,0) (they clear long
    * range at ~1.5e9 rows per key — the corpus-moment contract).
    *
    * Output: keys ++ (n, rho).
    */
  def spearman(
      df: DataFrame,
      keys: Seq[String],
      aCol: String,
      bCol: String): DataFrame = {
    val ranked = df
      .withColumn("__ra", rowMidrank2(keys.map(col), col(aCol)))
      .withColumn("__rb", rowMidrank2(keys.map(col), col(bCol)))
    val ra = dec(col("__ra"))
    val rb = dec(col("__rb"))
    ranked
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(ra).as("__sa"), sum(rb).as("__sb"),
        // rank squares overflow a long past ~1.5e9 rows per key —
        // decimal is the corpus-moment contract
        sum(ra * ra).as("__saa"),
        sum(rb * rb).as("__sbb"),
        sum(ra * rb).as("__sab"))
      .withColumn("__den",
        sqrt(d(dec(col("n")) * col("__saa") - col("__sa") * col("__sa")) *
          d(dec(col("n")) * col("__sbb") - col("__sb") * col("__sb"))))
      .select(keys.map(col) ++ Seq(col("n"),
        round(d(dec(col("n")) * col("__sab") -
            col("__sa") * col("__sb")) /
          when(col("__den") === 0, lit(null)).otherwise(col("__den")), 4).as("rho")): _*)
  }

  /** Single changepoint per keyed series — the split x* maximizing the
    * between-segment SSE reduction gain(t) = S_l²/n_l + S_r²/n_r −
    * S²/n (binary segmentation's first step, Scott & Knott 1974): the
    * level-shift locator that complements D7's CUSUM (which detects
    * THAT a shift happened; this says WHERE it most likely sits).
    *
    * Scale shape: the series collapses to x grain (calendar-bounded),
    * then ordered cumulative sums + full-frame totals + the argmax
    * rank all ride ONE (keys) exchange. Segment sums are exact longs;
    * gain is three double divisions of exact longs, rounded 6dp
    * BEFORE the (gain desc, x asc) argmax rank so both engines pick
    * the same split even at a float tie.
    *
    * Output: keys ++ (n_points, split_x, gain).
    */
  def changepoint(
      series: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    val ord = byKey.orderBy(xCol)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .withColumn("__y", col(yCol).cast("long"))
      .withColumn("__cy", sum(col("__y")).over(cum))
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("__s", sum(col("__y")).over(byKey))
      .filter(col("__i") < col("__n"))
      .withColumn("gain", round(
        d(col("__cy") * col("__cy")) / col("__i") +
          d((col("__s") - col("__cy")) * (col("__s") - col("__cy"))) /
            (col("__n") - col("__i")) -
          d(col("__s") * col("__s")) / col("__n"), 6))
      .withColumn("__rnk", row_number().over(
        byKey.orderBy(col("gain").desc, col(xCol))))
      .filter(col("__rnk") === 1)
      .select(keys.map(col) ++ Seq(col("__n").as("n_points"),
        col(xCol).as("split_x"), round(col("gain"), 4).as("gain")): _*)
  }

  /** ROC AUC from the rank statistic — AUC = P(score⁺ > score⁻) +
    * ½P(=), which is exactly U₁/(n₁n₂) of F27's Mann–Whitney U
    * (Hanley & McNeil 1982): the threshold-free quality number for
    * any scored binary classifier (quality filters, dedup verifiers,
    * toxicity scorers) without materializing a ROC curve.
    *
    * Exactness: the F27 machinery verbatim — integer-cent value
    * grain, INTEGER 2·average-ranks from a cumulative window over
    * DISTINCT values, exact-long 2U₁ = Σc⁺·r2 − n⁺(n⁺+1); AUC is the
    * single double division 2U₁/(2n⁺n⁻), 4dp. Scale shape: one
    * corpus scan collapsing to value grain (eager-cut), the
    * range-bounded cumulative window, a one-row output.
    *
    * Output: (n_pos, n_neg, auc).
    */
  def rocAuc(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      posGroup: String,
      negGroup: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, posGroup, negGroup)
    grainGuarded(pts, cumRows, "rocAuc")
      .withColumn("__t", col("c1") + col("c2"))
      .withColumn("__r2", midrank2(byValue, col("__t"), col("__t")))
      .agg(
        sum(col("c1")).as("n_pos"), sum(col("c2")).as("n_neg"),
        sum(col("c1") * col("__r2")).as("__r2sum1"))
      .withColumn("__twoU1",
        col("__r2sum1") - col("n_pos") * (col("n_pos") + 1L))
      .select(col("n_pos"), col("n_neg"),
        round(d(col("__twoU1")) /
          when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
            .otherwise(d(lit(2L) * col("n_pos") * col("n_neg"))), 4).as("auc"))
  }

  /** Two-feature ordinary least squares via the normal equations —
    * ŷ = b0 + b1·x1 + b2·x2 solved in closed form by Cramer's rule
    * on the 3×3 moment matrix: D9's linearTrend generalized to two
    * regressors (the "controlling for" fit a single slope can't
    * give), without any iterative solver.
    *
    * Exactness: all nine moment sums accumulate in decimal(38,0)
    * integer cents (the F29 contract — exact, associative,
    * overflow-safe); the Cramer determinants and coefficients are
    * double expressions over those exact sums in IDENTICAL written
    * order on both engines (IEEE doubles make that deterministic),
    * coefficients 6dp, R² 4dp. R² comes from the normal-equation
    * identity SSE = Syy − b0·Sy − b1·Sx1y − b2·Sx2y — no residual
    * pass. Scale shape: ONE scan, ONE map-side-combined aggregate,
    * a one-row output. Singular designs (det ≈ 0) report null.
    *
    * Output: (n, b0, b1, b2, r2).
    */
  def ols2(
      df: DataFrame,
      yCol: String,
      x1Col: String,
      x2Col: String): DataFrame = {
    def v(c: String) = dec(cents(col(c)))
    df.filter(col(yCol).isNotNull && col(x1Col).isNotNull && col(x2Col).isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(v(x1Col)).as("__s1"), sum(v(x2Col)).as("__s2"), sum(v(yCol)).as("__sy"),
        sum(v(x1Col) * v(x1Col)).as("__s11"), sum(v(x1Col) * v(x2Col)).as("__s12"),
        sum(v(x2Col) * v(x2Col)).as("__s22"),
        sum(v(x1Col) * v(yCol)).as("__s1y"), sum(v(x2Col) * v(yCol)).as("__s2y"),
        sum(v(yCol) * v(yCol)).as("__syy"))
      .withColumn("__N", d(col("n")))
      // Cramer 3×3 on M = [[n,S1,S2],[S1,S11,S12],[S2,S12,S22]],
      // rhs = [Sy,S1y,S2y]; cents cancel in the coefficients' units
      .withColumn("__det",
        col("__N") * (d(col("__s11")) * d(col("__s22")) - d(col("__s12")) * d(col("__s12"))) -
          d(col("__s1")) * (d(col("__s1")) * d(col("__s22")) - d(col("__s12")) * d(col("__s2"))) +
          d(col("__s2")) * (d(col("__s1")) * d(col("__s12")) - d(col("__s11")) * d(col("__s2"))))
      .withColumn("__d0",
        d(col("__sy")) * (d(col("__s11")) * d(col("__s22")) - d(col("__s12")) * d(col("__s12"))) -
          d(col("__s1")) * (d(col("__s1y")) * d(col("__s22")) - d(col("__s12")) * d(col("__s2y"))) +
          d(col("__s2")) * (d(col("__s1y")) * d(col("__s12")) - d(col("__s11")) * d(col("__s2y"))))
      .withColumn("__d1",
        col("__N") * (d(col("__s1y")) * d(col("__s22")) - d(col("__s12")) * d(col("__s2y"))) -
          d(col("__sy")) * (d(col("__s1")) * d(col("__s22")) - d(col("__s12")) * d(col("__s2"))) +
          d(col("__s2")) * (d(col("__s1")) * d(col("__s2y")) - d(col("__s1y")) * d(col("__s2"))))
      .withColumn("__d2",
        col("__N") * (d(col("__s11")) * d(col("__s2y")) - d(col("__s1y")) * d(col("__s12"))) -
          d(col("__s1")) * (d(col("__s1")) * d(col("__s2y")) - d(col("__s1y")) * d(col("__s2"))) +
          d(col("__sy")) * (d(col("__s1")) * d(col("__s12")) - d(col("__s11")) * d(col("__s2"))))
      .withColumn("__bad", abs(col("__det")) < lit(1e-9) * col("__N"))
      .withColumn("__b0", when(col("__bad"), lit(null)).otherwise(col("__d0") / col("__det")))
      .withColumn("__b1", when(col("__bad"), lit(null)).otherwise(col("__d1") / col("__det")))
      .withColumn("__b2", when(col("__bad"), lit(null)).otherwise(col("__d2") / col("__det")))
      .withColumn("__sst",
        d(col("__syy")) - d(col("__sy")) * d(col("__sy")) / col("__N"))
      .withColumn("__sse",
        d(col("__syy")) - col("__b0") * d(col("__sy")) -
          col("__b1") * d(col("__s1y")) - col("__b2") * d(col("__s2y")))
      .select(col("n"),
        // b0 carries the cent scale once (intercept is in y units)
        round(col("__b0") / 100.0, 6).as("b0"),
        round(col("__b1"), 6).as("b1"), round(col("__b2"), 6).as("b2"),
        round(lit(1.0) - col("__sse") /
          when(col("__sst") <= 0, lit(null)).otherwise(col("__sst")), 4).as("r2"))
  }

  /** Partial correlation r_xy·z — the dependence between x and y
    * AFTER removing what z explains in both: (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²)). The confounder screen F29's raw matrix
    * can't answer ("do these move together, or does a third thing
    * move both?").
    *
    * Exactness: the F29 moment machinery verbatim (ONE scan, exact
    * decimal(38,0) cent sums, listwise deletion); the three UNROUNDED
    * r's feed the partial formula as double expressions in identical
    * written order; displayed r's are 4dp.
    *
    * Output: (n, r_xy, r_xz, r_yz, r_partial).
    */
  def partialCorr(
      df: DataFrame,
      xCol: String,
      yCol: String,
      zCol: String): DataFrame = {
    def v(c: String) = dec(cents(col(c)))
    val one = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull && col(zCol).isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(v(xCol)).as("__sx"), sum(v(yCol)).as("__sy"), sum(v(zCol)).as("__sz"),
        sum(v(xCol) * v(xCol)).as("__sxx"), sum(v(yCol) * v(yCol)).as("__syy"),
        sum(v(zCol) * v(zCol)).as("__szz"),
        sum(v(xCol) * v(yCol)).as("__sxy"), sum(v(xCol) * v(zCol)).as("__sxz"),
        sum(v(yCol) * v(zCol)).as("__syz"))
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) = {
      val n = dec(col("n"))
      val num = n * col(sab) - col(sa) * col(sb)
      val da = n * col(saa) - col(sa) * col(sa)
      val db = n * col(sbb) - col(sb) * col(sb)
      val den = sqrt(d(da) * d(db))
      d(num) / when(den === 0, lit(null)).otherwise(den)
    }
    one
      .withColumn("__rxy", r("__sxy", "__sx", "__sy", "__sxx", "__syy"))
      .withColumn("__rxz", r("__sxz", "__sx", "__sz", "__sxx", "__szz"))
      .withColumn("__ryz", r("__syz", "__sy", "__sz", "__syy", "__szz"))
      .withColumn("__den",
        sqrt((lit(1.0) - col("__rxz") * col("__rxz")) *
          (lit(1.0) - col("__ryz") * col("__ryz"))))
      .select(col("n"),
        round(col("__rxy"), 4).as("r_xy"),
        round(col("__rxz"), 4).as("r_xz"),
        round(col("__ryz"), 4).as("r_yz"),
        round((col("__rxy") - col("__rxz") * col("__ryz")) /
          when(col("__den") === 0, lit(null)).otherwise(col("__den")), 4)
          .as("r_partial"))
  }

}
