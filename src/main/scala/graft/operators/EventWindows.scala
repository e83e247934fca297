package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal windowing over an event stream (batch side; the streaming
  * variants live in graft.streaming.EventStream and share these
  * aggregation shapes).
  */
object EventWindows {

  /** Tumbling-window aggregation via Spark's `window()` generator. */
  def tumbling(
      events: DataFrame,
      duration: String,
      groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .groupBy(window(col("ts"), duration) +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** Sliding-window aggregation (`slide` < `duration` ⇒ overlapping
    * windows; each event lands in duration/slide windows).
    */
  def sliding(
      events: DataFrame,
      duration: String,
      slide: String,
      groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .groupBy(window(col("ts"), duration, slide) +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** Sequential conversion funnel: step i completes at the EARLIEST
    * event of its type at-or-after step i−1's completion (the
    * standard earliest-greedy funnel), per user.
    *
    * Formulated as a chain of sequential mins: stage 1 is a
    * type-filtered map-side-combined groupBy; each later stage
    * equi-joins that step's (type-filtered) events to the previous
    * stage's one-row-per-user completion table, keeps events at or
    * after the previous completion, and re-aggregates to min — the
    * groupBy rides the join's partitioning, so each stage costs one
    * shrinking shuffle. No windows, no per-user event collection: a
    * Zipf-hot user gets AQE skew-splitting on the join plus a
    * combine, never a single-task window partition.
    *
    * Output: (userCol, steps_completed, t_first_us, t_conv_us) —
    * t_conv_us is null until the funnel completes; users with no
    * step-1 event appear with steps_completed = 0.
    */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val us = unix_micros(col(tsCol))
    val stage1 = events.filter(col(typeCol) === steps.head)
      .groupBy(userCol).agg(min(us).as("t1"))
    val stages = steps.zipWithIndex.drop(1).scanLeft(stage1) {
      case (prev, (step, i)) =>
        events.filter(col(typeCol) === step)
          .select(col(userCol), us.as("__ts"))
          .join(prev.select(col(userCol), col(s"t$i")), Seq(userCol))
          .filter(col("__ts") >= col(s"t$i"))
          .groupBy(userCol).agg(min(col("__ts")).as(s"t${i + 1}"))
    }
    val all = events.select(col(userCol)).distinct()
    val joined = stages.foldLeft(all)((acc, st) => acc.join(st, Seq(userCol), "left"))
    joined
      .withColumn("steps_completed",
        steps.indices
          .map(i => when(col(s"t${i + 1}").isNotNull, 1).otherwise(0))
          .reduce(_ + _))
      .select(col(userCol), col("steps_completed"),
        col("t1").as("t_first_us"),
        col(s"t${steps.length}").as("t_conv_us"))
  }

  /** Kaplan–Meier survival estimator over per-subject
    * (duration, event) rows — the time-to-event curve of product
    * analytics and reliability (Kaplan & Meier 1958): at each distinct
    * duration t with n_t subjects still at risk and d_t events,
    * S(t) = Π_{u ≤ t} (1 − d_u/n_u); censored subjects leave the risk
    * set without an event.
    *
    * Scale shape: subjects collapse map-side to (keys, duration)
    * grain — (d_t, c_t) counts — so the ordered windows run over
    * distinct-duration rows (day-grain: bounded by the observation
    * range, never by subject count) on ONE (keys) exchange; the risk
    * set is the full-frame total minus the exclusive running count,
    * and the product is exp(Σ ln) over the same ordered frame. Counts
    * are exact integers; floats enter only in the factor/ln/exp,
    * replayed identically by the oracle. A step that empties the risk
    * set (factor 0) pins S = 0 via an integer flag rather than
    * ln(0) — Spark yields NULL there, DuckDB −inf, so the guard keeps
    * both engines on the same arithmetic.
    *
    * Output: keys ++ (duration, n_risk, d, c, surv).
    */
  def kaplanMeier(
      df: DataFrame,
      keys: Seq[String],
      durationCol: String = "duration",
      eventCol: String = "event"): DataFrame = {
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wOrd = wAll.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grain = df
      .groupBy((keys :+ durationCol).map(col): _*)
      .agg(sum(col(eventCol).cast("long")).as("d"),
        sum(lit(1L) - col(eventCol).cast("long")).as("c"))
    grain
      .withColumn("__leave", col("d") + col("c"))
      .withColumn("n_risk",
        sum("__leave").over(wAll) - (sum("__leave").over(wOrd) - col("__leave")))
      .withColumn("__f",
        lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
      .withColumn("surv",
        when(min(col("n_risk") - col("d")).over(wOrd) === 0, lit(0.0))
          .otherwise(exp(sum(
            // d == n_risk is the factor-0 wipe the flag above pins to
            // S=0; keep ln() off that row — DuckDB's ln(0) ERRORS
            // (Spark's yields NULL), so both engines must skip it to
            // stay on the same arithmetic
            when(col("d") > 0 && col("d") < col("n_risk"), log(col("__f")))
              .otherwise(lit(0.0))).over(wOrd))))
      .select((keys :+ durationCol).map(col) ++ Seq(col("n_risk"),
        col("d"), col("c"), round(col("surv"), 4).as("surv")): _*)
  }

  /** Two-group log-rank test (H60) — "do these two survival curves
    * differ?", the inferential companion to [[kaplanMeier]]'s
    * descriptive curve (reference analysis grain: time-to-first-
    * outcome cohorts, analysis.ipynb's approval-timing comparisons).
    * At each distinct event time t with d_t total events, n1_t/n2_t
    * at risk: E1_t = d_t·n1_t/n_t and the hypergeometric variance
    * V_t = d_t·n1_t·n2_t·(n_t−d_t) / (n_t²·(n_t−1)); the statistic is
    * z = (O1−E1)/√ΣV_t, χ² = z².
    *
    * Determinism: subjects collapse to (duration) grain with exact
    * long counts; risk sets are integer window arithmetic. Each
    * per-time E1/V term is converted to integer MICRO-UNITS via
    * `floor(x·1e6 + 0.5)` — floor-of-double is engine-identical
    * (the Holt halving contract) — so the test sums LONGS, immune to
    * float summation order on both engines; z/χ² are then single
    * double expressions over exact integers (true-ratio class, safe
    * to round 4dp), and e1/v publish via the integer-grain
    * `round(x/100.0)::long / 10000.0` rule.
    *
    * Scale shape: one subject scan → duration-grain combine (≤ a few
    * thousand rows at any corpus size — day grain); the risk-set
    * windows ride ONE value-ordered single-partition stage over that
    * bounded table (ValueGrainCap-guarded, the ksTest contract), then
    * a one-row reduce. No joins, no corpus re-scan.
    *
    * Output: one row (n1, n2, o1, e1, v, z, chi2) — z null when the
    * variance is 0 (no informative event times).
    */
  def logRank(
      subjects: DataFrame,
      groupCol: String,
      groupA: String,
      groupB: String,
      durationCol: String = "duration",
      eventCol: String = "event"): DataFrame = {
    val isA = col(groupCol) === groupA
    val ev = col(eventCol).cast("long")
    val grain = subjects
      .filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(durationCol).as("t"))
      .agg(
        sum(when(isA, ev).otherwise(0L)).as("d1"),
        sum(when(isA, 1L).otherwise(0L)).as("l1"),
        sum(when(!isA, ev).otherwise(0L)).as("d2"),
        sum(when(!isA, 1L).otherwise(0L)).as("l2"))
      .localCheckpoint()
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val terms = Rollups.grainGuarded(grain, w, "logRank")
      .withColumn("__N1", sum("l1").over(wAll))
      .withColumn("__N2", sum("l2").over(wAll))
      .withColumn("__n1", col("__N1") - (sum("l1").over(w) - col("l1")))
      .withColumn("__n2", col("__N2") - (sum("l2").over(w) - col("l2")))
      .withColumn("__d", col("d1") + col("d2"))
      .withColumn("__n", col("__n1") + col("__n2"))
      .filter(col("__d") > 0)
      // micro-unit per-time terms: floor(x*1e6 + 0.5) over exact
      // integer inputs is bit-identical across engines
      .withColumn("__e1us",
        floor(d(col("__d")) * d(col("__n1")) / d(col("__n")) * 1e6 + 0.5)
          .cast("long"))
      .withColumn("__vus",
        when(col("__n") > 1,
          floor(d(col("__d")) * d(col("__n1")) * d(col("__n2")) *
            d(col("__n") - col("__d")) /
            (d(col("__n")) * d(col("__n")) * d(col("__n") - 1L)) * 1e6 + 0.5)
            .cast("long"))
          .otherwise(lit(0L)))
    terms
      .agg(
        max(col("__N1")).as("__N1"), max(col("__N2")).as("__N2"),
        sum("d1").as("o1"),
        sum("__e1us").as("__e1us"), sum("__vus").as("__vusS"))
      .withColumn("__z",
        when(col("__vusS") > 0,
          (d(col("o1")) - d(col("__e1us")) / 1e6) /
            sqrt(d(col("__vusS")) / 1e6)))
      .select(
        col("__N1").as("n1"), col("__N2").as("n2"), col("o1"),
        (round(col("__e1us") / 100.0).cast("long") / 10000.0).as("e1"),
        (round(col("__vusS") / 100.0).cast("long") / 10000.0).as("v"),
        round(col("__z"), 4).as("z"),
        round(col("__z") * col("__z"), 4).as("chi2"))
  }

  /** Daily percentile bands — the dashboard envelope (p10/p50/p90 of
    * a metric per day): the spread view a daily mean hides. Exact
    * interpolated percentiles over integer cents at day grain
    * (the F5 contract), one map-side-combined percentile aggregate.
    *
    * Output: (day, n, p10, p50, p90), 4dp.
    */
  def dailyQuantileBands(
      events: DataFrame,
      valueCol: String = "value",
      tsCol: String = "ts"): DataFrame = {
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    events
      .filter(col(valueCol).isNotNull)
      .groupBy(day.as("day"))
      .agg(count(lit(1)).as("n"),
        percentile(round(col(valueCol) * 100).cast("long"),
          typedLit(Seq(0.1, 0.5, 0.9))).as("__p"))
      .select(col("day"), col("n"),
        round(element_at(col("__p"), 1) / 100.0, 4).as("p10"),
        round(element_at(col("__p"), 2) / 100.0, 4).as("p50"),
        round(element_at(col("__p"), 3) / 100.0, 4).as("p90"))
  }

  /** Daily mix-shift divergence — per day, the Jensen–Shannon
    * divergence between that day's categorical mix (event types,
    * sources) and the corpus baseline: the one-number-per-day drift
    * monitor that pages before a composition change corrupts every
    * downstream daily metric. G57's divergence machinery at the
    * (day, category) grain.
    *
    * Determinism: shares are exact count ratios; each category's JS
    * contribution is one double expression rounded 6dp, the per-day
    * JS their sum over the ≤|categories| rows (the F20 contract).
    * Scale shape: ONE (day, cat) combine (eager-cut — it feeds the
    * day totals, the baseline, and the contributions), dim-sized
    * windows, a broadcast baseline attach.
    *
    * Output: (day, n, js), js in nats.
    */
  def mixShift(
      events: DataFrame,
      catCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val grain = events
      .groupBy(day.as("day"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val base = grain.groupBy("cat").agg(sum(col("n")).as("__bn"))
      .withColumn("__bt", sum(col("__bn")).over(Window.partitionBy()))
      .select(col("cat"), (d(col("__bn")) / col("__bt")).as("__q"))
    val byDay = Window.partitionBy("day")
    grain
      .withColumn("__dt", sum(col("n")).over(byDay))
      .join(broadcast(base), Seq("cat"))
      .withColumn("__p", d(col("n")) / col("__dt"))
      .withColumn("__m", (col("__p") + col("__q")) / 2.0)
      // a category absent on a day contributes only through q's side
      // of the baseline — handled below by the q-only remainder
      .withColumn("__c", round(
        (col("__p") * log(col("__p") / col("__m")) +
          col("__q") * log(col("__q") / col("__m"))) / 2.0, 6))
      .groupBy("day")
      .agg(first(col("__dt")).as("n"), sum(col("__c")).as("__js_present"),
        sum(col("__q")).as("__q_present"))
      // absent categories: p=0 → contribution q/2·ln(2) each; fold the
      // missing q mass in closed form so sparse days stay exact
      .withColumn("js", round(
        col("__js_present") +
          round((lit(1.0) - col("__q_present")) / 2.0 * log(lit(2.0)), 6), 4))
      .select(col("day"), col("n"), col("js"))
  }

  /** Audience-overlap matrix — for every pair of event types, the
    * Jaccard overlap of their USER audiences: the "do these features
    * share users" planning table behind cross-sell and cannibalization
    * questions. F40 scores items by co-occurrence count; this scores
    * CATEGORIES by audience sets.
    *
    * Scale shape: the corpus collapses to the distinct (user, cat)
    * grain ONCE (eager-cut); per-user pair expansion is in-row and
    * bounded by the CATEGORY count (C(|cats|,2) per user, not data);
    * marginals ride the collapsed table; everything after is
    * dim²-sized. Exact counts, one division.
    *
    * Output: (cat_a, cat_b, n_a, n_b, n_both, jaccard), a < b.
    */
  def audienceOverlap(
      events: DataFrame,
      catCol: String = "event_type",
      userCol: String = "user_id"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(sort_array(collect_set(col(catCol))).as("__cats"))
      .localCheckpoint()
    val pairs = perUser
      .select(explode(flatten(transform(col("__cats"), (x, i) =>
        transform(slice(col("__cats"), i + lit(2), size(col("__cats"))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("cat_a"), col("__p.b").as("cat_b"))
      .agg(count(lit(1)).as("n_both"))
    val marg = perUser
      .select(explode(col("__cats")).as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("__n"))
    pairs
      .join(broadcast(marg.select(col("__c").as("cat_a"), col("__n").as("n_a"))),
        Seq("cat_a"))
      .join(broadcast(marg.select(col("__c").as("cat_b"), col("__n").as("n_b"))),
        Seq("cat_b"))
      .select(col("cat_a"), col("cat_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")), 4).as("jaccard"))
  }

  /** Nelson–Aalen cumulative hazard per keyed cohort — H(t) =
    * Σ_{tᵢ≤t} dᵢ/nᵢ over the same (duration, at-risk) grain as H22's
    * Kaplan–Meier: the ADDITIVE view of the same data, preferred
    * when comparing cohorts' instantaneous risk (hazard differences
    * add; survival products don't) and the estimator behind "is the
    * failure rate itself rising?".
    *
    * Determinism: each step's hazard increment dᵢ/nᵢ is ONE double
    * division of exact longs quantized to integer micro-units, so
    * the cumulative is an exact long sum (the D18 contract) — no
    * float cumsum order can differ. Same one-(keys)-exchange shape
    * as H22.
    *
    * Output: keys ++ (duration, n_risk, d, c, cum_hazard).
    */
  def cumulativeHazard(
      df: DataFrame,
      keys: Seq[String],
      durationCol: String = "duration",
      eventCol: String = "event"): DataFrame = {
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wOrd = wAll.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .groupBy((keys :+ durationCol).map(col): _*)
      .agg(sum(col(eventCol).cast("long")).as("d"),
        sum(lit(1L) - col(eventCol).cast("long")).as("c"))
      .withColumn("__leave", col("d") + col("c"))
      .withColumn("n_risk",
        sum("__leave").over(wAll) - (sum("__leave").over(wOrd) - col("__leave")))
      .withColumn("__hu",
        round(col("d").cast("double") / col("n_risk").cast("double") * 1e6)
          .cast("long"))
      // integer-grain publish (the q321 halfway-flip contract)
      .withColumn("cum_hazard",
        round(sum(col("__hu")).over(wOrd).cast("double") / 100.0)
          .cast("long") / 10000.0)
      .select((keys :+ durationCol).map(col) ++ Seq(col("n_risk"),
        col("d"), col("c"), col("cum_hazard")): _*)
  }

  /** Churn label builder — the supervised-dataset primitive: users
    * active BEFORE the cutoff get a label from whether they return
    * in the trailing observation window [cutoff, max]. The cutoff is
    * anchored at max(day) − observationDays, so the label is a pure
    * function of the data. Feed the labeled frame to any downstream
    * model; the base rate printed by the companion rollup is the
    * trivial-classifier floor.
    *
    * Scale shape: one corpus scan to the (user, side) count grain
    * (map-side combined), the anchor a one-row broadcast; output is
    * user-grain. Exact counts only.
    *
    * Output: (user_id, n_before, n_after, churned) for users with
    * pre-cutoff activity.
    */
  def churnLabels(
      events: DataFrame,
      observationDays: Int = 30,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val anchor = events.agg((max(day) - observationDays + 1).as("__cut"))
    events
      .select(col(userCol), day.as("__d"))
      .crossJoin(broadcast(anchor))
      .groupBy(userCol)
      .agg(
        sum(when(col("__d") < col("__cut"), 1L).otherwise(0L)).as("n_before"),
        sum(when(col("__d") >= col("__cut"), 1L).otherwise(0L)).as("n_after"))
      .filter(col("n_before") > 0)
      .withColumn("churned", col("n_after") === 0)
  }

  /** Cohort retention: users are cohorted by their first active
    * period (fixed-width `periodDays` buckets of the epoch — calendar
    * weeks would drag in timezone/locale variance an oracle can't
    * replay); retention at offset d = distinct users of cohort c
    * active in period c+d, as a fraction of the cohort.
    *
    * Shapes: activity collapses to distinct (user, period) and the
    * cohort to a min-per-user — both map-side-combined groupBys; the
    * join is user-keyed (AQE-skew-safe) and the final rollup is
    * (cohort, offset)-grained. No windows, nothing driver-side.
    *
    * Output: (cohort_period, offset, n_active, n_cohort, rate).
    */
  def retention(
      events: DataFrame,
      periodDays: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val periodUs = periodDays * 86400L * 1000000L
    val period = floor(unix_micros(col(tsCol)) / periodUs).cast("long")
    val activity = events.select(col(userCol), period.as("period")).distinct()
    val cohort = activity.groupBy(userCol).agg(min("period").as("cohort_period"))
    val sizes = cohort.groupBy("cohort_period")
      .agg(countDistinct(userCol).cast("long").as("n_cohort"))
    activity.join(cohort, Seq(userCol))
      .groupBy(col("cohort_period"),
        (col("period") - col("cohort_period")).as("offset"))
      .agg(countDistinct(userCol).cast("long").as("n_active"))
      .join(broadcast(sizes), Seq("cohort_period"))
      .withColumn("rate",
        round(col("n_active").cast("double") / col("n_cohort"), 4))
  }

  /** Duration-weighted average value per key: each event's value holds
    * until the next event (step-function semantics — sensor readings,
    * position sizes, price quotes), so the mean weighs each value by
    * its holding time, not its row count. Arithmetic stays in exact
    * integers (cents × whole seconds) so the sums are associative
    * across any partitioning; only the final division is floating
    * point. One (key) window exchange; the rollup rides it.
    */
  def timeWeightedAvg(
      events: DataFrame,
      keyCol: String = "user_id",
      valCol: String = "value",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    events
      .withColumn("__us", us)
      .withColumn("__next", lead(col("__us"), 1).over(w))
      .filter(col("__next").isNotNull)
      // integer DIV — `/` on longs is double division, whose rounding
      // near integer boundaries need not match another engine's `//`
      .withColumn("__dur_s", expr("(__next - __us) DIV 1000000"))
      .withColumn("__v_i", round(col(valCol) * 100).cast("long"))
      .groupBy(keyCol)
      .agg(
        sum(col("__dur_s")).as("total_s"),
        sum(col("__v_i") * col("__dur_s")).as("__ws"))
      .filter(col("total_s") > 0)
      .select(col(keyCol), col("total_s"),
        round(col("__ws").cast("double") / col("total_s") / 100, 4).as("twa"))
  }

  /** OHLC time bars — the canonical financial/telemetry downsample:
    * per key and fixed time bucket, the first (open), maximum (high),
    * minimum (low), and last (close) observation plus the event count.
    *
    * Scale shape: ONE map-side-combined aggregate on (keys, bar) —
    * open/close are `min_by`/`max_by` against the (event-time, seq)
    * struct, so the aggregation state is O(1) per group and partials
    * merge associatively; there is no window, no sort, and no per-bar
    * event collection. `seqCol` (unique per event) makes the pick
    * deterministic under timestamp ties — the same total order any
    * oracle's window replay uses. Bars index as floor(us / barMicros)
    * computed entirely in LONG arithmetic: `div` (truncating) minus a
    * sign correction when the remainder is nonzero — `/` on longs is
    * double division, whose 53-bit mantissa goes inexact for micros
    * past ~2255 and risks off-by-one bars at bucket boundaries vs an
    * oracle's integer `//`.
    *
    * Output: (keys..., bar, open, high, low, close, n_events).
    */
  def ohlcBars(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      seqCol: String,
      barMicros: Long): DataFrame = {
    require(barMicros > 0, s"barMicros must be positive, got $barMicros")
    val us = unix_micros(col(tsCol))
    val ord = struct(us, col(seqCol))
    val bar = expr(s"unix_micros($tsCol) div ${barMicros}L") -
      when(us < 0 && pmod(us, lit(barMicros)) =!= 0, lit(1L)).otherwise(lit(0L))
    events
      .groupBy(keys.map(col) :+ bar.cast("long").as("bar"): _*)
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n_events"))
  }

  /** RFM (recency / frequency / monetary) customer scoring — the
    * classic segmentation: per user, days since last event (against
    * the corpus horizon), event count, and value sum, each bucketed
    * 1–5 by the EXACT interpolated population quintiles.
    *
    * Scale shape: one map-side-combined aggregate to user grain; the
    * quintile thresholds are a ONE-ROW aggregate over that user table
    * (three percentile arrays) broadcast back — so scoring is a pure
    * projection, and nothing ever windows over the user population.
    * Monetary AND the interpolated thresholds themselves are rounded
    * to 4dp BEFORE thresholding on both engines (the winsorize /
    * madSummary determinism contract) so a threshold landing within an
    * ulp of a data value can never flip a score between Spark
    * `percentile` and DuckDB `quantile_cont`.
    *
    * Output: (userCol, recency_days, frequency, monetary,
    * r_score, f_score, m_score, rfm).
    */
  def rfm(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val probs = typedLit(Seq(0.2, 0.4, 0.6, 0.8))
    val users = events
      .select(col(userCol), unix_micros(col(tsCol)).as("__us"), col(valCol))
      .groupBy(col(userCol))
      .agg(max(col("__us")).as("__last"),
        count(lit(1)).as("frequency"),
        round(sum(col(valCol)), 4).as("monetary"))
    val horizon = users.agg(max(col("__last")).as("__h"))
    val scored = users.join(broadcast(horizon))
      .withColumn("recency_days",
        expr("(__h - __last) DIV 86400000000").cast("long"))
      .drop("__last", "__h")
    def r4(c: Column): Column = transform(c, t => round(t, 4))
    val th = broadcast(scored.agg(
      r4(percentile(col("recency_days"), probs)).as("__rt"),
      r4(percentile(col("frequency"), probs)).as("__ft"),
      r4(percentile(col("monetary"), probs)).as("__mt")))
    def upCount(v: Column, ts: Column): Column =
      aggregate(ts, lit(0), (acc, t) => acc + when(v > t, 1).otherwise(0))
    scored.join(th)
      .withColumn("r_score", lit(5) - upCount(col("recency_days"), col("__rt")))
      .withColumn("f_score", lit(1) + upCount(col("frequency"), col("__ft")))
      .withColumn("m_score", lit(1) + upCount(col("monetary"), col("__mt")))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .drop("__rt", "__ft", "__mt")
  }

  /** First-k event-type path per user ("entry funnels"): the ordered
    * prefix of each user's journey, counted across the population —
    * the product-analytics sunburst. Deterministic under timestamp
    * ties via the (event-time, seq) total order.
    *
    * Scale shape: a rank window on the (user) exchange keeps only the
    * first k events per user BEFORE any collection (a hot user
    * contributes k rows, never their history); the ≤k-element ordered
    * join happens in-row after a groupBy that rides the same user
    * partitioning, and the final path rollup shuffles path-count
    * pairs only.
    *
    * Output: (path, n_users).
    */
  def pathPrefixes(
      events: DataFrame,
      k: Int = 3,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      seqCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_micros(col(tsCol)), col(seqCol))
    events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(col(userCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__rn"), col(typeCol).as("t")))),
          s => s.getField("t")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
  }

  /** Gaps-and-islands interval coalescing: merge overlapping (or
    * touching) [start, end] intervals per key into maximal covered
    * islands — the availability/coverage primitive (machine uptime,
    * user presence, sensor coverage).
    *
    * Formulation: one window over the (high-cardinality) key ordered
    * by (start, end, id) — a running `max(end)` over STRICTLY
    * preceding rows marks an island break wherever the next start
    * clears everything seen so far; a cumulative sum of break flags
    * numbers the islands. The island rollup `groupBy(key, island)`
    * rides the window's key-hash exchange (hash(key) co-locates every
    * (key, island) group), so the whole operator costs exactly one
    * shuffle. Skew note: window state is O(1) (running max / running
    * sum), so a hot key costs sort time only, never memory.
    *
    * Output: (key, island, start_us, end_us, n_intervals) — one row
    * per maximal covered span, `island` numbered 1.. per key in time
    * order.
    */
  def mergeIntervals(
      df: DataFrame,
      keyCol: String,
      startUsCol: String,
      endUsCol: String,
      idCol: String): DataFrame = {
    val byKey = Window.partitionBy(keyCol)
      .orderBy(col(startUsCol), col(endUsCol), col(idCol))
    val prevMax = max(col(endUsCol)).over(
      byKey.rowsBetween(Window.unboundedPreceding, -1))
    val cum = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("_break",
        when(prevMax.isNull || col(startUsCol) > prevMax, 1).otherwise(0))
      .withColumn("island", sum("_break").over(cum))
      .groupBy(col(keyCol), col("island"))
      .agg(
        min(startUsCol).as("start_us"),
        max(endUsCol).as("end_us"),
        count(lit(1)).as("n_intervals"))
  }

  /** Type-2 slowly-changing-dimension history from a change stream:
    * consecutive runs of the same attribute value per key collapse to
    * one versioned validity row [valid_from, valid_to), with the
    * latest run open-ended (`is_current`). The warehouse
    * dimension-history primitive, and equally the run-length encoder
    * for any keyed state stream.
    *
    * Shapes: the lag that flags value changes, the cumulative run
    * numbering, the run rollup, and the lead that closes each
    * validity range all ride ONE hash(key) exchange (the run rollup's
    * `groupBy(key, run)` and the second window's partition-by-key are
    * both satisfied by it); per-row window state is O(1), so hot keys
    * sort but never spill state.
    *
    * Output: (key, version, value, valid_from_us, valid_to_us,
    * is_current) with versions numbered 1.. per key in time order and
    * exactly one `is_current` per key.
    */
  def scd2(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      tsUsCol: String,
      idCol: String): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsUsCol), col(idCol))
    val cum = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byRun = Window.partitionBy(keyCol).orderBy(col("version"))
    df
      .withColumn("_chg",
        when(lag(col(valueCol), 1).over(byKey).isNull ||
          lag(col(valueCol), 1).over(byKey) =!= col(valueCol), 1).otherwise(0))
      .withColumn("version", sum("_chg").over(cum))
      .groupBy(col(keyCol), col("version"))
      .agg(
        // all values in a run are equal by construction; min is the
        // engine-portable way to say "the" value
        min(col(valueCol)).as("value"),
        min(col(tsUsCol)).as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byRun))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** State dwell-time distribution — how long a key SITS in each
    * state before transitioning, from the [[scd2]] history: per state
    * value, the count of CLOSED versions, total/mean dwell, and the
    * exact interpolated median (open current versions have no
    * duration yet and are excluded — a live state's dwell is
    * right-censored; H41's Nelson–Aalen is the censoring-aware view).
    *
    * Exactness: durations are exact micro-second longs (valid_to −
    * valid_from); mean is one 4dp division; the median rides the q50
    * percentile contract (≡ DuckDB quantile_cont), published in whole
    * microseconds via the positive-domain round.
    *
    * Scale shape: the SCD-2 build's key exchange, then one state-dim
    * aggregate — nothing else.
    *
    * Output: (value, n_spells, total_dwell_us, mean_dwell_us,
    * median_dwell_us).
    */
  def stateDwell(dim: DataFrame): DataFrame = {
    dim
      .filter(col("valid_to_us").isNotNull)
      .withColumn("__dur", col("valid_to_us") - col("valid_from_us"))
      .groupBy("value")
      .agg(count(lit(1)).as("n_spells"),
        sum("__dur").as("total_dwell_us"),
        round(percentile(col("__dur"), lit(0.5))).cast("long")
          .as("median_dwell_us"))
      .withColumn("mean_dwell_us",
        round(d(col("total_dwell_us")) / col("n_spells"), 4))
      .select(col("value"), col("n_spells"), col("total_dwell_us"),
        col("mean_dwell_us"), col("median_dwell_us"))
  }

  /** Point-in-time (PIT) dimension enrichment — the consumption
    * pattern [[scd2]]'s history exists for: each fact row picks the
    * dimension VERSION whose validity interval covers the fact's
    * event time. The feature-store join that keeps training data
    * leakage-free ("the customer's state WHEN the order landed",
    * never a future state).
    *
    * Spark-first shape: validity intervals PARTITION time per key, so
    * "the covering version" is exactly "the latest version with
    * valid_from ≤ t" — one [[AsOfJoin.asOf]] (tagged-union sorted
    * pass on the key exchange), never the point-in-interval range
    * join that fans out per key. Facts before a key's first version
    * null-pad, matching the interval join's left semantics; a probe
    * AT a boundary lands in the newer version (from ≤ t < to).
    */
  def pointInTime(
      facts: DataFrame,
      dim: DataFrame,
      keyCol: String,
      tsUsCol: String,
      payloadCols: Seq[String]): DataFrame =
    AsOfJoin.asOf(facts, dim, Seq(keyCol), tsUsCol, "valid_from_us", payloadCols)

  /** Last-touch marketing attribution: credit every conversion event
    * to the most recent preceding touch (click/view/…) by the same
    * user within a lookback horizon; conversions with no qualifying
    * touch fall to the "direct" channel.
    *
    * Scale shape: a composition of [[AsOfJoin.asOf]] — one
    * sort-merge pass over a hash(user) exchange, never a windowed or
    * range self-join of the event table — followed by a channel-dim
    * rollup with full map-side combine. Touches are pre-collapsed to
    * (user, ts) grain with a deterministic max-event_id winner (the
    * q22 tie-break), so equal-timestamp touches cannot make the
    * credit assignment partition-order dependent. The lookback is
    * enforced by the as-of tolerance: backward as-of already selects
    * the LATEST touch ≤ the conversion, so "latest within horizon"
    * and "latest, nulled when beyond horizon" are the same rule.
    */
  def attribution(
      events: DataFrame,
      conversionType: String = "purchase",
      touchTypes: Seq[String] = Seq("click", "view"),
      lookbackUs: Long = 7L * 24 * 3600 * 1000000L): DataFrame = {
    val conversions = events
      .filter(col("event_type") === conversionType && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = events
      .filter(col("event_type").isin(touchTypes: _*))
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("event_type"), col("event_id")).as("channel"))
    AsOfJoin.asOf(conversions, touches, Seq("user_id"), "ts", "ts",
        Seq("channel"), direction = "backward", toleranceUs = Some(lookbackUs))
      .withColumn("channel", coalesce(col("channel"), lit("direct")))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_conversions"),
        round(sum(col("value")), 4).as("attributed_value"))
  }

  /** Inter-arrival gap distribution — per report key, the spacing
    * statistics of consecutive events within each series (user ×
    * event type): how often does a user fire this event, and with
    * what tail? The cadence diagnostic behind rate limiting, bot
    * detection, and session-gap threshold tuning (H3's `gapMinutes`
    * is exactly a cut on this distribution).
    *
    * Scale shape: gaps come from an O(1)-state `lag` window on the
    * (seriesKeys) exchange — a hot user costs a sort of their own
    * rows, never cross-user state; the report rollup re-shuffles only
    * the per-GAP rows to report-key grain (dim-sized groups). Gaps
    * are exact long micros end-to-end; seconds appear only in the
    * final 4dp projection, and the mean divides two exact longs.
    * Ties order by (ts, idCol) — the same total order every other
    * event operator here replays.
    *
    * Output: (reportKeys..., n_gaps, mean_gap_s, p50_gap_s,
    * p90_gap_s, max_gap_s).
    */
  def interArrival(
      events: DataFrame,
      seriesKeys: Seq[String] = Seq("user_id", "event_type"),
      reportKeys: Seq[String] = Seq("event_type"),
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(seriesKeys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    events
      .withColumn("__us", us)
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(reportKeys.map(col): _*)
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("__sum"),
        expr("percentile(__gap, 0.5)").as("__p50"),
        expr("percentile(__gap, 0.9)").as("__p90"),
        max(col("__gap")).as("__max"))
      .select(reportKeys.map(col) ++ Seq(
        col("n_gaps"),
        (round(col("__sum").cast("double") / col("n_gaps") / 100.0)
          .cast("long") / 10000.0).as("mean_gap_s"),
        // integer-grain publish (the q321 halfway-flip contract)
        (round(col("__p50") / 100.0).cast("long") / 10000.0).as("p50_gap_s"),
        (round(col("__p90") / 100.0).cast("long") / 10000.0).as("p90_gap_s"),
        (round(col("__max").cast("double") / 100.0).cast("long") / 10000.0)
          .as("max_gap_s")): _*)
  }

  /** Daily trending ranks — per day, the top-k items by event count
    * with each item's rank movement since its previous appearance
    * (positive delta = rising): the "trending now" table of every
    * analytics dashboard, with the movement column that raw counts
    * don't give.
    *
    * Scale shape: the corpus collapses ONCE to (day, item) grain
    * (map-side combine); the within-day rank partitions on the day
    * (item-cardinality frames) and the movement lag partitions on the
    * item (calendar-length frames) — both dim-shaped, exact integer
    * ranks with (n desc, item) tie-break. `prev_rnk` is the rank at
    * the item's previous OBSERVED day (an item absent yesterday
    * compares to its last appearance, never to a phantom zero).
    *
    * Output: (day, item, n, rnk, prev_rnk, delta) for rnk ≤ k.
    */
  def trending(
      events: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts",
      k: Int = 3): DataFrame = {
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val counts = events
      .groupBy(day.as("day"), col(typeCol).as("item"))
      .agg(count(lit(1)).as("n"))
    val ranked = counts.withColumn("rnk",
      row_number().over(
        Window.partitionBy("day").orderBy(col("n").desc, col("item"))).cast("long"))
    ranked
      .withColumn("prev_rnk",
        lag(col("rnk"), 1).over(Window.partitionBy("item").orderBy("day")))
      .filter(col("rnk") <= k)
      .withColumn("delta", col("prev_rnk") - col("rnk"))
  }

  /** Watermark-lateness audit — the planning metric every streaming
    * deployment needs BEFORE picking a watermark delay: in arrival
    * order (`arrivalCol` — the ingest sequence, or a simulated
    * reordering when the corpus ships time-sorted), how many events
    * arrive more than
    * `deltaS` seconds behind the running max event time of their
    * stream, and how far behind? Those are exactly the rows a
    * `withWatermark(delta)` pipeline would drop as late.
    *
    * Scale shape: ONE (type) exchange; the running max is an
    * O(1)-state window over arrival order; the rollup shares the
    * partitioning. Exact integer microsecond arithmetic end to end.
    *
    * Output: (event_type, n, n_late, late_frac, max_lateness_s).
    */
  def latenessAudit(
      events: DataFrame,
      deltaS: Long = 3600,
      typeCol: String = "event_type",
      arrivalCol: String = "event_id",
      tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(col(typeCol)).orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(arrivalCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol), col(arrivalCol), unix_micros(col(tsCol)).as("__us"))
      .withColumn("__runmax", max(col("__us")).over(w))
      .withColumn("__behind",
        greatest(coalesce(col("__runmax") - col("__us"), lit(0L)), lit(0L)))
      .groupBy(col(typeCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__behind") > deltaS * 1000000L, 1L).otherwise(0L)).as("n_late"),
        max(col("__behind")).as("__mb"))
      .select(col(typeCol), col("n"), col("n_late"),
        round(d(col("n_late")) / col("n"), 4).as("late_frac"),
        (round(d(col("__mb")) / 100.0).cast("long") / 10000.0)
          .as("max_lateness_s"))
  }

  /** DAU / WAU / MAU stickiness — the product-analytics engagement
    * staple: per day, the distinct actives that day, over the
    * trailing week, and over the trailing month, plus the stickiness
    * ratios (DAU/WAU, DAU/MAU — "what share of the monthly audience
    * shows up daily").
    *
    * Scale shape: the corpus collapses ONCE to the distinct
    * (user, day) grain (map-side combined, eager-cut — it feeds all
    * three horizons); each trailing window is a bounded OFFSET FAN
    * (×7 / ×30 rows, map-side) re-aggregated with an exact distinct
    * count — never a distinct-over-sliding-window, which no engine
    * shuffles well. Reported days are the OBSERVED days (join with
    * the DAU table), so a fan landing past the horizon never invents
    * a day. Ratios are the only doubles, 4dp.
    *
    * Output: (day, dau, wau, mau, dau_wau, dau_mau).
    */
  def stickiness(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      weekDays: Int = 7,
      monthDays: Int = 30): DataFrame = {
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val ud = events.select(col(userCol).as("u"), day.as("d"))
      .distinct()
      .localCheckpoint()
    val dau = ud.groupBy(col("d").as("day"))
      .agg(countDistinct(col("u")).as("dau"))
    def trailing(days: Int, out: String) = ud
      .select(col("u"), explode(sequence(col("d"), col("d") + (days - 1))).as("day"))
      .groupBy("day").agg(countDistinct(col("u")).as(out))
    dau
      .join(trailing(weekDays, "wau"), Seq("day"))
      .join(trailing(monthDays, "mau"), Seq("day"))
      .withColumn("dau_wau", round(col("dau").cast("double") / col("wau"), 4))
      .withColumn("dau_mau", round(col("dau").cast("double") / col("mau"), 4))
  }

  /** Sequence entropy rate — how predictable are the event streams,
    * in nats per step: H = −Σ_s w_s Σ_t p(t|s)·ln p(t|s) over the
    * empirical first-order transition matrix (w = from-state share).
    * The information-theoretic companion to H40's accuracy floor:
    * perplexity exp(H) is the effective branching factor a sequence
    * model must beat per step.
    *
    * Determinism: transition counts are exact; each (s,t) cell's
    * contribution −(n_st/N)·ln(n_st/n_s) is one double expression
    * rounded 6dp, summed over the states²-sized cell table (the F20
    * contract); perplexity is exp of the 4dp total. One (user)
    * exchange for the lead pairs, one (s,t) combine, dim windows.
    *
    * Output: one row (n_transitions, n_states, entropy_rate,
    * perplexity).
    */
  def entropyRate(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val all = Window.partitionBy()
    val byFrom = Window.partitionBy("__s")
    events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("__next", lead(col(typeCol), 1).over(byUser))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("__s"), col("__next").as("__t"))
      .agg(count(lit(1)).as("__n"))
      // "__tot", not "__N": Spark's default case-insensitive resolver
      // would treat "__N" and the cell count "__n" as the SAME column
      .withColumn("__ns", sum(col("__n")).over(byFrom))
      .withColumn("__tot", sum(col("__n")).over(all))
      .withColumn("__c", round(
        -(d(col("__n")) / col("__tot")) * log(d(col("__n")) / col("__ns")), 6))
      .agg(
        max(col("__tot")).as("n_transitions"),
        countDistinct(col("__s")).as("n_states"),
        round(sum(col("__c")), 4).as("entropy_rate"))
      .withColumn("perplexity", round(exp(col("entropy_rate")), 4))
  }

  /** Bot-likeness flags — users whose event cadence is too regular
    * to be human: high event count with a LOW coefficient of
    * variation of inter-arrival gaps (scripts fire on timers; people
    * don't). The triage list feeding rate-limit (H39) and integrity
    * reviews.
    *
    * Determinism: gaps are exact long micros from one lag window on
    * the (user) exchange; per-user mean/sd come from exact gap sums;
    * the CV and the keep test run on the 4dp-ROUNDED value. Output
    * is the flagged user list with its evidence.
    *
    * Output: (user_id, n_events, mean_gap_s, cv) for users with
    * ≥ minEvents and cv ≤ maxCv.
    */
  def botFlags(
      events: DataFrame,
      minEvents: Int = 20,
      maxCv: Double = 0.3,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col("__us"), col(idCol))
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("__us"), col(idCol))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(byUser))
      .groupBy(userCol)
      .agg(
        count(lit(1)).as("n_events"),
        count(col("__gap")).as("__ng"),
        sum(col("__gap")).as("__sg"),
        // micro-gap squares overflow longs (30-day gap² ≈ 7e24)
        sum(col("__gap").cast("decimal(38,0)") *
          col("__gap").cast("decimal(38,0)")).as("__qg"))
      .filter(col("n_events") >= minEvents && col("__ng") > 1 && col("__sg") > 0)
      .withColumn("__mean", d(col("__sg")) / col("__ng"))
      .withColumn("__var",
        (d(col("__qg")) - d(col("__sg")) * d(col("__sg")) / col("__ng")) /
          (col("__ng") - 1))
      .withColumn("cv", round(
        sqrt(greatest(col("__var"), lit(0.0))) / col("__mean"), 4))
      .filter(col("cv") <= maxCv)
      .select(col(userCol), col("n_events"),
        (round(col("__mean") / 100.0).cast("long") / 10000.0)
          .as("mean_gap_s"), col("cv"))
  }

  /** Majority-transition predictor accuracy — the baseline every
    * sequence model must beat: predict each next event as the most
    * frequent follower of the current type (H17's transition matrix
    * reduced to its argmax row), and score in-sample accuracy. A
    * fancy model that can't beat this table isn't learning sequence
    * structure; a HIGH baseline says the sequences are near-
    * deterministic and a model is overkill.
    *
    * Determinism: consecutive pairs from an O(1)-state lead window
    * on the (user, ts, event_id) total order; the per-state argmax
    * is an O(1)-state max(struct(n, to)) combine (ties → the
    * lexicographically greatest follower — stated, not accidental);
    * accuracy is exact counts. The pair frame is eager-cut (it
    * trains the model AND scores it); the model attaches back as a
    * states-sized broadcast.
    *
    * Output: (from_type, pred_type, n, n_correct, acc, micro_acc).
    */
  def transitionAccuracy(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val all = Window.partitionBy()
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("__next", lead(col(typeCol), 1).over(byUser))
      .filter(col("__next").isNotNull)
      .select(col(typeCol).as("from_type"), col("__next"))
      .localCheckpoint()
    val model = pairs
      .groupBy("from_type", "__next").agg(count(lit(1)).as("__n"))
      .groupBy("from_type")
      .agg(max(struct(col("__n"), col("__next").as("to"))).as("__b"))
      .select(col("from_type"), col("__b.to").as("pred_type"))
    pairs.join(broadcast(model), Seq("from_type"))
      .groupBy("from_type", "pred_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__next") === col("pred_type"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc", round(col("n_correct").cast("double") / col("n"), 4))
      .withColumn("micro_acc", round(
        sum(col("n_correct")).over(all).cast("double") /
          sum(col("n")).over(all), 4))
  }

  /** Recency-weighted (half-life-decayed) engagement score per user —
    * the lead-scoring / feature-store staple: each event contributes
    * value·2^(−age_days), so yesterday's click is worth half of
    * today's. Anchored at the CORPUS max event time so the score is
    * a pure function of the data (re-runnable, engine-portable).
    *
    * Determinism without `pow`: the age is an integer day count, so
    * the decay is an exact binary shift — weight_µ = ⌊1e6 / 2^age⌉
    * computed as integer-shift-then-divide (both engines do exact
    * integer shifts; no libm pow whose last ulp could differ), 0
    * past 62 days. Contributions cents·weight_µ accumulate in
    * decimal(38,0). One broadcast anchor row + one (user) combine.
    *
    * Output: (user_id, n_events, score) — score in value units.
    */
  def decayScore(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val dec = "decimal(38,0)"
    val day = expr(s"unix_micros($tsCol) div 86400000000")
    val anchor = events.agg(max(day).as("__T"))
    val wu = when(col("__T") - col("__d") <= 62,
      round(lit(1e6) /
        expr("shiftleft(1L, cast(__T - __d as int))").cast("double")).cast("long"))
      .otherwise(0L)
    events
      .filter(col(valueCol).isNotNull)
      .select(col(userCol), day.as("__d"),
        round(col(valueCol) * 100).cast("long").as("__c"))
      .crossJoin(broadcast(anchor))
      .withColumn("__wc", col("__c").cast(dec) * wu.cast(dec))
      .groupBy(userCol)
      .agg(count(lit(1)).as("n_events"), sum(col("__wc")).as("__s"))
      .select(col(userCol), col("n_events"),
        round(col("__s").cast("double") / 1e6 / 100.0, 4).as("score"))
  }

  /** Sliding-window burst audit — the rate-limit / abuse-detection
    * primitive: each user's PEAK event count within any trailing
    * `windowSecs` interval, with the first instant it is reached,
    * keeping only users at or above `minPeak`. H32's sweep line asks
    * "how many open at once"; this asks "how many ARRIVED within any
    * trailing window" — the query a throttle actually enforces.
    *
    * Scale shape: ONE (user) exchange carries both the RANGE-framed
    * trailing count (O(1) running state — Spark maintains range
    * frames incrementally, never re-scanning the frame) and the
    * (count desc, t) argmax rank. Exact integer micros and counts.
    *
    * Output: (user_id, n_events, peak, peak_t_us).
    */
  def burstAudit(
      events: DataFrame,
      windowSecs: Int = 60,
      minPeak: Int = 2,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val byUser = Window.partitionBy(userCol)
    val trailing = byUser.orderBy(col("__us"))
      .rangeBetween(-(windowSecs * 1000000L - 1), Window.currentRow)
    events
      .select(col(userCol), unix_micros(col(tsCol)).as("__us"))
      .withColumn("__cnt", count(lit(1)).over(trailing))
      .withColumn("n_events", count(lit(1)).over(byUser))
      .withColumn("__rnk", row_number().over(
        byUser.orderBy(col("__cnt").desc, col("__us"))))
      .filter(col("__rnk") === 1 && col("__cnt") >= minPeak)
      .select(col(userCol), col("n_events"),
        col("__cnt").as("peak"), col("__us").as("peak_t_us"))
  }

  /** Matched-pair uplift with a paired t — the within-subject effect
    * estimator: each treatment event is matched to the SAME user's
    * nearest preceding control event (F3's as-of machinery — one
    * sort-merge pass on the user exchange, never a windowed
    * self-join), and the report is the mean treated−control gap with
    * Student's paired t = d̄/(s_d/√n). Matching on the subject
    * removes between-user variance — the blocked design F31's
    * independent-groups t can't exploit.
    *
    * Determinism: controls collapse to (user, ts) grain first (max
    * cents — one value per instant, so the as-of pick is unique);
    * diffs are exact integer cents; mean/sd/t are doubles from ONE
    * aggregate of exact long sums, 4dp. Unmatched treatments are
    * counted (n_unmatched) and excluded.
    *
    * Output: one row (n_pairs, n_unmatched, mean_diff, t).
    */
  def pairedUplift(
      events: DataFrame,
      treatType: String,
      controlType: String,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val treat = events
      .filter(col(typeCol) === treatType && col(valueCol).isNotNull)
      .select(col(userCol), col(tsCol), cents.as("__tc"))
    val ctrl = events
      .filter(col(typeCol) === controlType && col(valueCol).isNotNull)
      .groupBy(col(userCol), col(tsCol).as("__cts"))
      .agg(max(cents).as("__cc"))
    AsOfJoin.asOf(treat, ctrl, Seq(userCol), tsCol, "__cts",
        payloadCols = Seq("__cc"), direction = "backward")
      .withColumn("__diff", (col("__tc") - col("__cc")).cast("decimal(38,0)"))
      .agg(
        count(col("__diff")).as("n_pairs"),
        sum(when(col("__diff").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        sum(col("__diff")).as("__s"),
        sum(col("__diff") * col("__diff")).as("__q"))
      .filter(col("n_pairs") > 1)
      .withColumn("__v",
        (d(col("__q")) - d(col("__s")) * d(col("__s")) / col("n_pairs")) /
          (col("n_pairs") - 1))
      .select(col("n_pairs"), col("n_unmatched"),
        round(d(col("__s")) / col("n_pairs") / 100.0, 4).as("mean_diff"),
        round((d(col("__s")) / col("n_pairs")) /
          when(col("__v") <= 0, lit(null))
            .otherwise(sqrt(col("__v") / col("n_pairs"))), 4).as("t"))
  }

  /** Cohort LTV matrix — the revenue companion to H15's retention
    * counts: users grouped by FIRST-SEEN week, their value summed per
    * week-of-age, and the running cumulative divided by cohort size =
    * lifetime value per user as each cohort ages. The table under
    * every "payback period" and cohort-quality decision.
    *
    * Scale shape: ONE corpus scan; the first-seen week is an O(1)-
    * state min window on the (user) exchange (no self-join, no second
    * scan); the frame is eager-cut because it feeds BOTH the
    * (cohort, age) revenue combine and the cohort-size distinct;
    * cohort sizes attach back at cohort grain (broadcast); the
    * cumulative rides the cohort-partitioned age order over the
    * dim-sized matrix. Revenue is exact integer cents end to end;
    * the LTV division is the only double, 4dp.
    *
    * Output: (cohort_week, age_weeks, n_users, revenue, cum_ltv).
    */
  def cohortLtv(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val wUser = Window.partitionBy(userCol)
    val frame = events
      .select(col(userCol), expr(s"unix_micros($tsCol) div 86400000000").as("__d"),
        coalesce(round(col(valueCol) * 100).cast("long"), lit(0L)).as("__c"))
      .withColumn("__fd", min(col("__d")).over(wUser))
      .withColumn("cohort_week", expr("__fd div 7"))
      .withColumn("age_weeks", expr("__d div 7") - col("cohort_week"))
      .localCheckpoint()
    val sizes = frame.groupBy("cohort_week")
      .agg(countDistinct(col(userCol)).as("n_users"))
    val cum = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame
      .groupBy("cohort_week", "age_weeks")
      .agg(sum(col("__c")).as("__cents"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("__cum", sum(col("__cents")).over(cum))
      .select(col("cohort_week"), col("age_weeks"), col("n_users"),
        round(col("__cents").cast("double") / 100.0, 4).as("revenue"),
        round(col("__cum").cast("double") / 100.0 / col("n_users"), 4).as("cum_ltv"))
  }

  /** Peak concurrency per key — the classic sweep line: intervals
    * become +1/−1 boundary events, the running sum is the number of
    * intervals open at each instant, and the report is its maximum
    * with the first time it is reached. Capacity sizing in one pass
    * ("max simultaneous open shipments / sessions / connections"),
    * where H18's mergeIntervals only says how much time was covered.
    *
    * Half-open [start, end) semantics: at equal t the −1 sorts before
    * the +1 (an interval ending exactly when another starts never
    * overlaps it). The cumulative window is O(1)-state on ONE (keys)
    * exchange; the argmax is a rank over the same exchange with a
    * (conc desc, t, d) total order, so both engines report the same
    * instant. Within a tie-run of identical boundaries the prefix
    * maximum always lands on a run end, which every ordering agrees
    * on — intra-tie row order cannot change the output.
    *
    * Output: keys ++ (n_intervals, peak, peak_t).
    */
  def maxConcurrency(
      intervals: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cum = byKey.orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    intervals
      .select((keys.map(col) :+ explode(array(
        struct(col(startCol).cast("long").as("t"), lit(1L).as("d")),
        struct(col(endCol).cast("long").as("t"), lit(-1L).as("d")))).as("__e")): _*)
      .select(keys.map(col) :+ col("__e.t").as("t") :+ col("__e.d").as("d"): _*)
      .withColumn("__c", sum(col("d")).over(cum))
      .withColumn("n_intervals",
        (count(lit(1)).over(byKey) / 2).cast("long"))
      .withColumn("__rnk", row_number().over(
        byKey.orderBy(col("__c").desc, col("t"), col("d"))))
      .filter(col("__rnk") === 1)
      .select(keys.map(col) ++ Seq(col("n_intervals"),
        col("__c").as("peak"), col("t").as("peak_t")): _*)
  }

}

/** Gap-based sessionization: a new session starts when a user is idle
  * longer than `gap`. Batch formulation: window cumulative-sum of
  * session-start flags per user — one shuffle on the (high-cardinality)
  * user key; the streaming twin is `session_window` (EventStream).
  */
object Sessionize {

  def sessions(
      events: DataFrame,
      gapMinutes: Int,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val cum = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("_gap_us",
        unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(byUser))
      .withColumn("_new_session",
        when(col("_gap_us").isNull || col("_gap_us") > gapMinutes * 60L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("_new_session").over(cum))
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(tsCol).as("start_ts"),
        max(tsCol).as("end_ts"),
        (unix_micros(max(tsCol)) - unix_micros(min(tsCol))).as("duration_us"))
  }

  /** Session-scoped Markov transition statistics: within each
    * (user, session) — sessions cut by the same idle gap as
    * [[sessions]] — count consecutive event-type pairs and normalize
    * each row of the transition matrix to probabilities. The
    * clickstream "what happens after X" primitive (next-event
    * prediction, anomaly flows).
    *
    * Shapes: the `lead` rides the SAME user-keyed window exchange the
    * session flags already need (one shuffle, high-cardinality key);
    * pair counting is a map-side-combined groupBy on the
    * |types|²-sized key; row normalization joins the |types|-row
    * totals aggregate back by broadcast — never a window over the
    * tiny `from_type` keyspace, and the optimizer reuses the pair
    * aggregate's exchange for both sides.
    *
    * Output: (from_type, to_type, n, p) with Σ p = 1 per from_type.
    */
  def transitions(
      events: DataFrame,
      gapMinutes: Int,
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySession = Window.partitionBy(col(userCol), col("session_id"))
      .orderBy(col(tsCol), col(idCol))
    val pairs = events
      .withColumn("_gap_us",
        unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(byUser))
      .withColumn("_new_session",
        when(col("_gap_us").isNull || col("_gap_us") > gapMinutes * 60L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("_new_session").over(cum))
      .withColumn("to_type", lead(col(typeCol), 1).over(bySession))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .withColumn("p", round(col("n").cast("double") / col("__tot"), 4))
      .drop("__tot")
  }

}
