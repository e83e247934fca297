package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — reference analytics: evidence dating, ontology propagation,
  * association scoring, novelty, and the reference rollup reports (SURVEY.md
  * families A-E).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object RefQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q01_assoc_datasource" -> ((s, dir) => {
      val t = Tables(s, dir)
      AssociationScore.byDatasource(t.evidence)
        .withColumn("score", round(col("score"), 4))
    }),
    "q02_assoc_overall" -> ((s, dir) => {
      val t = Tables(s, dir)
      AssociationScore.overall(AssociationScore.byDatasource(t.evidence), t.weights)
        .withColumn("score", round(col("score"), 4))
    }),
    "q03_novelty" -> ((s, dir) => {
      val t = Tables(s, dir)
      val overall = overallScores(t)
      Novelty.attach(overall, Seq("diseaseId", "targetId"))
    }),
    "q04_novelty_datasource" -> ((s, dir) => {
      val t = Tables(s, dir)
      Novelty.attach(
        AssociationScore.byDatasource(t.evidence),
        Seq("diseaseId", "targetId", "datasourceId"))
    }),
    "q171_timeline" -> ((s, dir) => {
      // plot_timeseries.py:667–805's data prep: the dense
      // score+novelty series pivoted to ordered aligned arrays per
      // pair. Registered projection serializes each array to CSV of
      // exact integers (scores ×10000, novelty ×1000 — both already
      // rounded to that grain) because the driver compare sorts and
      // hashes scalar columns; Novelty.timeline itself returns real
      // arrays.
      val t = Tables(s, dir)
      val overall = overallScores(t)
      val tl = Novelty.timeline(
        Novelty.attach(overall, Seq("diseaseId", "targetId")),
        Seq("diseaseId", "targetId"))
      def csv(arr: org.apache.spark.sql.Column,
          scale: Int): org.apache.spark.sql.Column = array_join(
        transform(arr, v => round(v * scale).cast("long").cast("string")), ",")
      tl.select(col("diseaseId"), col("targetId"),
        array_join(transform(col("years"), _.cast("string")), ",").as("years_csv"),
        csv(col("scores"), 10000).as("scores_csv"),
        csv(col("novelty"), 1000).as("novelty_csv"))
    }),
    "q10_full_pipeline" -> ((s, dir) => {
      // the reference's end-to-end run: indirect evidence → per-source
      // cumulative scores → weighted overall → novelty
      val t = Tables(s, dir)
      val indirect = OntologyPropagate.indirect(t.evidence, t.ontology)
      val overall = AssociationScore.overall(
        AssociationScore.byDatasource(indirect), t.weights)
      Novelty.attach(overall, Seq("diseaseId", "targetId"))
    }),
    "q05_indirect" -> ((s, dir) => {
      val t = Tables(s, dir)
      OntologyPropagate.indirect(t.evidence, t.ontology)
        .groupBy("diseaseId", "datasourceId")
        .agg(
          count(lit(1)).as("n_evidence"),
          round(sum("score"), 4).as("sum_score"))
    }),
    "q06_evidence_dating" -> ((s, dir) => {
      val t = Tables(s, dir)
      // The year dim arrives as an ISO date STRING and is parsed with
      // the reference's split-on-'-' idiom (timestamp_evidence.py:
      // 218–246) — functions.yearFromDateString — not with year() on a
      // typed column.
      val orderDim = t.orders
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderDate"))
        .select(col("o_orderkey"),
          graft.functions.yearFromDateString(col("orderDate")).as("orderYear"))
      val candidates = t.lineitem
        .join(orderDim, col("l_orderkey") === col("o_orderkey"), "left")
        .withColumn("studyYear",
          when(col("l_returnflag") === "R", year(col("l_shipdate")).cast("int")))
        .withColumn("curationYear",
          when(col("l_linenumber") <= 2, year(col("l_shipdate")).cast("int") - 1))
      Dating.bestDate(candidates, Seq("studyYear", "curationYear", "orderYear"))
        .groupBy("l_orderkey")
        .agg(
          min("year").as("year"),
          count(lit(1)).as("n_items"),
          array_join(array_sort(collect_set("l_returnflag")), ",").as("flags"))
        .withColumnRenamed("l_orderkey", "orderkey")
    }),
    "q07_union_recover" -> ((s, dir) => {
      val t = Tables(s, dir)
      val enriched = t.events
        .filter(col("event_type").isin("click", "view"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      Dating.recoverUndated(enriched, t.events, "event_id")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_k"),
          sum("k").cast("bigint").as("sum_k"))
    }),
    "q08_dated_counts" -> ((s, dir) => {
      val t = Tables(s, dir)
      val sparse = t.lineitem
        .withColumn("datasourceId", col("l_returnflag"))
        .withColumn("year",
          when(col("l_returnflag") === "R", year(col("l_shipdate")).cast("int"))
            .when(col("l_linenumber") <= 2, year(col("l_shipdate")).cast("int") - 1))
      Dating.datedCounts(sparse)
    }),
    "q09_peaks" -> ((s, dir) => {
      val t = Tables(s, dir)
      val overall = overallScores(t)
      Novelty.peaks(overall, Seq("diseaseId", "targetId"))
        .withColumn("peak", round(col("peak"), 4))
        .filter(col("peak") > 0)
        .select("diseaseId", "targetId", "peakYear", "peak")
    }),
    "q11_top_rank" -> ((s, dir) => {
      val t = Tables(s, dir)
      Rollups.topRank(t.orders, Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), n = 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    }),
    "q12_first_year" -> ((s, dir) => {
      // E2/E3 rollup in AGGREGATE grain: the ends-in-distinct window
      // formulation sorted the full corpus inside fixed-width
      // partitions and went 33x for 10x data at the sf1 bench —
      // map-side-combined (target, source) / (target) aggregates with
      // a pair-grain join land on the identical distinct rows and
      // shuffle collapsed grains only (the window form remains as the
      // non-collapsing E2/E3 attachment inside q15's chain)
      val t = Tables(s, dir)
      Rollups.keyGrainAttach(t.evidence, Seq("targetId", "datasourceId"), Seq(
          Seq("targetId", "datasourceId") -> Seq(round(max("score"), 4).as("max_score")),
          Seq("targetId") -> Seq(min("year").as("first_year"))))
        .select(col("targetId"), col("datasourceId"), col("first_year"),
          col("max_score"))
    }),
    "q13_distinct_rollup" -> ((s, dir) => {
      // E4 distinct rollup as a DEDUP CASCADE: the double
      // countDistinct EXPANDed every corpus row twice and spilled at
      // the sf1 bench (52x for 10x data); collapsing to the distinct
      // 4-tuple first (map-side partial dedup), then to (year, src,
      // target), makes n_targets a count and n_pairs a sum — zero
      // expand, every shuffle on an already-collapsed grain
      val t = Tables(s, dir)
      Rollups.distinctCascade(t.evidence, Seq("year", "datasourceId"),
        Seq("targetId"), Seq("diseaseId"), "n_targets", "n_pairs")
    }),
    "q14_crosstab" -> ((s, dir) => {
      val t = Tables(s, dir)
      Rollups.crosstab(t.evidence, Seq("year"), "datasourceId", Seq("A", "N", "R"))
    }),
    "q15_approval_composite" -> ((s, dir) => {
      // the reference's "novelty predicts approvals" chain
      // (novelty_approval.py:340–430). The per-pair association/
      // novelty chain is computed only for pairs the drug dim can
      // emit: the first-approval key set is broadcast-semi-joined
      // below the whole chain (exact — the chain is per-pair
      // independent).
      val t = Tables(s, dir)
      val first = Approvals.firstApprovalTargets(t.drugs, t.drugLinks)
      val ev = t.evidence.join(
        broadcast(first.select("diseaseId", "targetId").distinct()),
        Seq("diseaseId", "targetId"), "left_semi")
      val nv = Novelty.attach(
        AssociationScore.byDatasource(ev),
        Seq("diseaseId", "targetId", "datasourceId"))
      Approvals.approvalComposite(first, nv, t.datatypes,
        yearLo = 1995, yearHi = 1998)
    }),
    "q17_phase_union" -> ((s, dir) => {
      // the approval composite's second branch
      // (novelty_approval.py:432–478): clinical-phase milestones
      // (novelty=1) unioned with the novelty peaks, post-approval
      // early-phase rows discarded, datatype fallback to the raw id
      val t = Tables(s, dir)
      val nd = t.drugs.join(t.drugLinks, Seq("drugId"))
        .transform(Rollups.attachWindowAgg(_, Seq("targetId"), min("approvalYear"), "minY"))
        .filter(col("minY") === col("approvalYear"))
        .select("drugId", "targetId", "diseaseId", "approvalYear")
        .distinct()
      val ev = t.evidence.join(
        broadcast(nd.select("diseaseId", "targetId").distinct()),
        Seq("diseaseId", "targetId"), "left_semi")
      val nv = Novelty.attach(AssociationScore.byDatasource(ev),
        Seq("diseaseId", "targetId", "datasourceId"))
      val novRows = nv.join(broadcast(nd), Seq("diseaseId", "targetId"))
        .filter(col("novelty") > 0 && col("year").isNotNull)
        .transform(Rollups.attachWindowAgg(
          _, Seq("targetId", "datasourceId"), max("novelty"), "maxN"))
        .filter(col("novelty") === col("maxN"))
        .select("targetId", "datasourceId", "approvalYear", "year", "novelty")
      val phases = t.lineitem.select(
          col("l_orderkey").as("drugId"), col("l_partkey").as("targetId"),
          when(col("l_linenumber").isin(1, 2), "1/2")
            .otherwise(col("l_linenumber").cast("string")).as("datasourceId"),
          year(col("l_shipdate")).cast("int").as("evYear"))
        .join(broadcast(nd.select("drugId", "targetId", "approvalYear").distinct()),
          Seq("drugId", "targetId"))
        .groupBy("targetId", "datasourceId", "drugId", "approvalYear")
        .agg(min("evYear").as("year"))
        .select("targetId", "datasourceId", "approvalYear", "year")
      Approvals.phaseUnion(novRows, phases, t.datatypes, Seq("1/2", "3"))
        .groupBy("datatypeId")
        .agg(countDistinct("targetId").as("targets"))
    }),
    "q16_ta_ranked" -> ((s, dir) => {
      // prioritized therapeutic-area mapping
      // (novelty_distribution.py:60–110)
      val t = Tables(s, dir)
      val expl = t.ontology.select(
        col("id").as("diseaseId"), explode(col("ancestors")).as("ta"))
      Rollups.rankedDimPick(expl, "diseaseId", "ta", t.taPriority, "ranking")
        .join(broadcast(t.taNames), Seq("ta"), "left")
        .select(col("diseaseId"), col("ta").as("therapeuticArea"),
          col("taName").as("therapeuticAreaName"))
    }),
    "q18_novel_by_ta" -> ((s, dir) => {
      // the distribution analysis' headline rollup
      // (novelty_distribution.py:598–638): novelty snapshot at a year,
      // TA mapping inner-joined, excluded TAs/diseases filtered out,
      // distinct associations per (datasource, TA name)
      val t = Tables(s, dir)
      val nv = Novelty.attach(AssociationScore.byDatasource(t.evidence),
        Seq("diseaseId", "targetId", "datasourceId"))
      val expl = t.ontology.select(
        col("id").as("diseaseId"), explode(col("ancestors")).as("ta"))
      val taMap = Rollups.rankedDimPick(expl, "diseaseId", "ta", t.taPriority, "ranking")
        .join(broadcast(t.taNames), Seq("ta"), "left")
      val excludedTas = Seq(203L, 204L)
      nv.filter(col("novelty") >= 0.1 && col("year") === 1999)
        .join(taMap, Seq("diseaseId"))
        .filter(!col("ta").isin(excludedTas: _*))
        .groupBy("datasourceId", "taName")
        .agg(countDistinct(concat_ws("|", col("targetId"), col("diseaseId")))
          .as("association"))
    }),
    "q19_peak_correlation" -> ((s, dir) => {
      // the notebook's noveltyCorrelation analysis (analysis.ipynb
      // cell 1) distributively: first peak year per (pair, source),
      // pair-keyed self-join (exchange reused), corr per source pair
      val t = Tables(s, dir)
      Rollups.peakYearCorrelation(AssociationScore.byDatasource(t.evidence))
    }),
    "q86_shuffled_correlation" -> ((s, dir) => {
      // the correlation's null model: peak years deterministically
      // permuted within each source (hash-ordered rank-to-rank in
      // bounded md5-shard lanes), then the same corr aggregate
      val t = Tables(s, dir)
      Rollups.peakYearCorrelationShuffled(
        AssociationScore.byDatasource(t.evidence))
    }),
    "q104_rolling_anomaly" -> ((s, dir) => {
      // trailing z-score anomaly years over the dense overall
      // association series (5-year baseline, >= 3 priors, z >= 2)
      val t = Tables(s, dir)
      val overall = overallScores(t)
      Novelty.rollingAnomaly(overall, Seq("diseaseId", "targetId"))
        .select("diseaseId", "targetId", "year", "score", "z")
    }),
    "q147_linear_trend" -> ((s, dir) => {
      // per-datasource OLS trend of yearly evidence volume:
      // slope/intercept/R² from exact decimal moment sums, O(1)
      // aggregate state per key — never a window or self-join
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.linearTrend(series, Seq("datasourceId"), "year", "n")
    }),
    "q152_locf" -> ((s, dir) => {
      // step-function gap fill of each datasource's yearly evidence
      // count — carried values are exact copies, no scaffold join
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.locf(series, Seq("datasourceId"), "year", "n")
    }),
    "q159_seasonal" -> ((s, dir) => {
      // monthly seasonality of each event type: 12·share vs a flat
      // year — (keys, month) aggregate then a 12-row-per-key window
      val t = Tables(s, dir)
      Rollups.seasonalIndex(t.events, Seq("event_type"), "ts")
    }),
    "q165_growth" -> ((s, dir) => {
      // yearly growth diagnostics per datasource: YoY deltas + CAGR
      // from one (keys) exchange carrying both window frames
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.growthRates(series, Seq("datasourceId"), "year", "n")
    }),
    "q140_autocorr" -> ((s, dir) => {
      // ACF(1..3) of the yearly evidence volume per datasource —
      // year-arithmetic pairing (gaps never misalign), decimal-exact
      // moment sums on one (datasourceId) exchange, floats only in
      // the final ratio
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.autocorrelation(series, Seq("datasourceId"), "year", "n")
    }),
    "q139_cusum" -> ((s, dir) => {
      // drift changepoints in daily event volume per type: one-sided
      // CUSUM in running-sum form (running sum minus its running min,
      // exact integers scaled by the series length) on one
      // (event_type) exchange; flag = cumulative excess > 10% of the
      // series' total volume
      val t = Tables(s, dir)
      val series = t.events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Rollups.cusumDrift(series, Seq("event_type"), "day", "n")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("drift"), col("flag"))
    }),
    "q329_periodogram" -> ((s, dir) => {
      // D30 fixed-period DFT power at 7 and 30 days per event type:
      // is the series actually weekly/monthly-cyclic, how strong
      // (amplitude in count units), and where's the peak phase —
      // milli-quantized trig weights, decimal Fourier sums, phase
      // profile in floor-of-double micro-means
      val t = Tables(s, dir)
      Rollups.periodogram(t.events, Seq("event_type"), "ts")
    }),
    "q319_page_hinkley" -> ((s, dir) => {
      // D28 Page–Hinkley mean-shift drift over daily event volume per
      // type: each day scored against the RUNNING mean (the online
      // form, vs q139's fixed-mean CUSUM) — micro-unit floor-of-double
      // deviations, then exact-integer running sum/min on the same
      // single (event_type) exchange; flag = PH excess > 10% of the
      // series' total volume
      val t = Tables(s, dir)
      val series = t.events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Rollups.pageHinkley(series, Seq("event_type"), "day", "n")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("ph"), col("flag"))
    }),
    "q120_ewma" -> ((s, dir) => {
      // EWMA-smoothed overall association score (α = 1/2): the
      // closed-form running-sum formulation rides the scoring chain's
      // (pair) exchange; power-of-two scaling keeps every step an
      // exact exponent shift, so the smoother is bit-identical across
      // engines
      val t = Tables(s, dir)
      val overall = overallScores(t)
        .filter(col("year").isNotNull) // dated series only: engines
        // disagree on NULL sort position, and smoothing the undated
        // surrogate row is meaningless anyway
        .withColumn("s0", coalesce(col("score"), lit(0.0)))
      Rollups.ewmaHalf(overall, Seq("diseaseId", "targetId"), "year", "s0")
        .select(col("diseaseId"), col("targetId"), col("year"),
          round(col("s0"), 4).as("score"), round(col("ewma"), 4).as("ewma"))
    }),
    "q119_interpolate" -> ((s, dir) => {
      // linear gap-fill of sparse (part, supplier) yearly quantity
      // series: segment explode + endpoint blend, no calendar
      // scaffold join, one (keys) exchange
      val t = Tables(s, dir)
      val series = t.lineitem
        .groupBy(col("l_partkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("year"))
        .agg(sum(col("l_quantity").cast("long")).as("v"))
      Rollups.interpolate(series, Seq("l_partkey", "l_suppkey"))
    }),
    "q190_xcorr" -> ((s, dir) => {
      // D14 does 'view' lead 'purchase'? Pearson r per lag −3..3 over
      // the dense daily calendar — exact centered long sums
      val t = Tables(s, dir)
      Rollups.laggedCrossCorr(t.events, "view", "purchase")
    }),
    "q195_theil_sen" -> ((s, dir) => {
      // D15 robust yearly trend per datasource: median of all pairwise
      // slopes, in-row over the calendar-bounded year series
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.theilSen(series, Seq("datasourceId"), "year", "n")
    }),
    "q197_changepoint" -> ((s, dir) => {
      // D16 level-shift locator: the split day maximizing between-
      // segment SSE gain over each event type's daily count series
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.changepoint(series, Seq("event_type"), "day", "y")
    }),
    "q253_stl_anomalies" -> ((s, dir) => {
      // D20 seasonal-aware anomaly days per event type: residual
      // beyond 3 sigma after trend AND weekly effect removal
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.seasonalAnomalies(series, Seq("event_type"), "day", "y",
        nSigma = 2.0)
    }),
    "q309_macd" -> ((s, dir) => {
      // D27 MACD(12,26,9) over each event type's daily count series —
      // the trend-momentum crossover beside q301's bounded RSI; one
      // branch-free micro-unit fold per key
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.macd(series, Seq("event_type"), "day", "y")
    }),
    "q301_rsi" -> ((s, dir) => {
      // D25 Wilder RSI-14 over each event type's daily count series —
      // the bounded momentum read beside D18's EWMA and D21's Holt
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.rsi(series, Seq("event_type"), "day", "y")
    }),
    "q297_stl_strength" -> ((s, dir) => {
      // D24 forecastability triage: Hyndman trend/seasonal strength
      // per event type over the q230 decomposition's components
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.seasonalStrength(series, Seq("event_type"), "day", "y")
    }),
    "q230_seasonal_decompose" -> ((s, dir) => {
      // D19 STL-lite: centered-MA trend, weekly phase effects, and
      // residual spread over each event type's daily count series
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.seasonalDecompose(series, Seq("event_type"), "day", "y")
    }),
    "q211_ewma_backtest" -> ((s, dir) => {
      // D18 one-step-ahead forecast skill of D6's smoother on the
      // yearly datasource series
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.ewmaBacktest(series, Seq("datasourceId"), "year", "n")
    }),
    "q205_durbin_watson" -> ((s, dir) => {
      // D17 residual autocorrelation of D9's yearly fit — did the
      // straight line leave structure behind?
      val t = Tables(s, dir)
      val series = evidenceYearCounts(t)
      Rollups.durbinWatson(series, Seq("datasourceId"), "year", "n")
    }),
    "q272_holt_backtest" -> ((s, dir) => {
      // D21 Holt linear-trend one-step backtest per event type: the
      // trend-aware upgrade of D18's EWMA MAE, integer micro-unit
      // floor-halving recursion folded in-row over each daily series
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.holtBacktest(series, Seq("event_type"), "day", "y")
    }),
    "q321_croston" -> ((s, dir) => {
      // D29 Croston intermittent demand: per-user daily activity is
      // mostly zero, so smooth demand SIZE and inter-demand INTERVAL
      // separately at demand points only — the sparse frame is the
      // input, no dense calendar scaffold; α = 1/2 micro-unit
      // self-field folds (the D21 contract), forecast = size/interval
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y", "user_id")
      Rollups.croston(series, Seq("user_id"), "day", "y")
    }),
    "q288_mase" -> ((s, dir) => {
      // D22 MASE: the D21 Holt MAE normalized by the seasonal-naive
      // (lag-7) MAE per event type — is the model beating a lookup?
      val t = Tables(s, dir)
      val series = dailyCounts(t.events, "y")
      Rollups.maseBacktest(series, Seq("event_type"), "day", "y")
    }),
    "q377_spectral_entropy" -> ((s, dir) => {
      // D33 spectral entropy per event type over the D30 period bank
      // — 0 = one pure tone, 1 = flat noise-like spectrum; the
      // screening number for whether seasonal machinery is worth
      // running on a key
      val t = Tables(s, dir)
      Rollups.spectralEntropy(t.events, Seq("event_type"), "ts")
        .orderBy("event_type")
    }),
    "q378_runs_test" -> ((s, dir) => {
      // D34 Wald–Wolfowitz runs test on the daily count series per
      // type: trend/cluster (too few runs) vs oscillation (too many),
      // the assumption-free serial-dependence check
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.runsTest(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    "q393_theta_forecast" -> ((s, dir) => {
      // D38 Theta-method forecast (θ=2, the M3 winner) on the daily
      // count series per type: OLS trend line + α=½ SES over the
      // θ=2 line, forecast = their average — the classical baseline
      // next to q272's Holt and q321's Croston
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.thetaForecast(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    "q402_dickey_fuller" -> ((s, dir) => {
      // D40 Dickey-Fuller unit-root tau on the daily count series:
      // the null-mirror of q384's KPSS — run both, disagreement
      // means "near-integrated, difference before modeling"
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.dickeyFuller(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    "q394_hurst" -> ((s, dir) => {
      // D39 Hurst exponent via R/S over dyadic blocks: long-memory
      // persistence the short-lag family (q140 ACF, q205 DW, q378
      // runs) cannot see — H>0.5 trending, H<0.5 mean-reverting
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.hurstRS(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q01_assoc_datasource" ->
      s"""WITH $BySourceSql
         |SELECT diseaseId, targetId, datasourceId,
         |       CASE WHEN year = 2002 THEN NULL ELSE year END AS year,
         |       round(score, 4) AS score
         |FROM bysource""".stripMargin,
    "q02_assoc_overall" ->
      s"""WITH $OverallSql
         |SELECT diseaseId, targetId,
         |       CASE WHEN year = 2002 THEN NULL ELSE year END AS year,
         |       round(score, 4) AS score
         |FROM overall""".stripMargin,
    "q03_novelty" ->
      s"""WITH $OverallSql,
         |$NoveltyTailSql""".stripMargin,
    // the q171 pivot: list(x ORDER BY year) per pair, serialized to the
    // same exact-integer CSV grain as the Spark projection
    "q171_timeline" ->
      s"""WITH $OverallSql,
         |$NoveltyCtesSql,
         |f AS (
         |  SELECT diseaseId, targetId,
         |         coalesce(year, 2002) AS y,
         |         CAST(round(coalesce(score, 0) * 10000) AS BIGINT) AS sc,
         |         CAST(round(novelty * 1000) AS BIGINT) AS nv
         |  FROM att
         |)
         |SELECT diseaseId, targetId,
         |       array_to_string(list(CAST(y AS VARCHAR) ORDER BY y), ',') AS years_csv,
         |       array_to_string(list(CAST(sc AS VARCHAR) ORDER BY y), ',') AS scores_csv,
         |       array_to_string(list(CAST(nv AS VARCHAR) ORDER BY y), ',') AS novelty_csv
         |FROM f GROUP BY 1, 2""".stripMargin,
    "q10_full_pipeline" ->
      s"""WITH $IndirectEvSql,
         |$BySourceTail,
         |$OverallTail,
         |$NoveltyTailSql""".stripMargin,
    "q04_novelty_datasource" ->
      s"""WITH $BySourceSql,
         |${NoveltySql("bysource", SourceKeys)}
         |SELECT b.diseaseId, b.targetId, b.datasourceId,
         |       CASE WHEN b.year = 2002 THEN NULL ELSE b.year END AS year,
         |       round(b.score, 4) AS score,
         |       coalesce(n.novelty, 0.0) AS novelty
         |FROM bysource b
         |LEFT JOIN decayed n
         |  ON n.diseaseId = b.diseaseId AND n.targetId = b.targetId
         | AND n.datasourceId = b.datasourceId AND n.year = b.year""".stripMargin,
    "q05_indirect" ->
      s"""WITH $EvSql,
         |$OntologySql,
         |prop AS (
         |  SELECT unnest(o.nodes) AS diseaseId, e.targetId, e.datasourceId, e.score
         |  FROM ev e JOIN ont o ON e.diseaseId = o.id
         |)
         |SELECT diseaseId, datasourceId,
         |       CAST(count(*) AS BIGINT) AS n_evidence,
         |       round(sum(score), 4) AS sum_score
         |FROM prop GROUP BY 1, 2""".stripMargin,
    "q06_evidence_dating" ->
      """WITH candidates AS (
        |  SELECT l.l_orderkey, l.l_returnflag,
        |         CASE WHEN l.l_returnflag = 'R'
        |              THEN CAST(year(l.l_shipdate) AS INT) END AS studyYear,
        |         CASE WHEN l.l_linenumber <= 2
        |              THEN CAST(year(l.l_shipdate) AS INT) - 1 END AS curationYear,
        |         CAST(year(o.o_orderdate) AS INT) AS orderYear
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |)
        |SELECT l_orderkey AS orderkey,
        |       min(coalesce(studyYear, curationYear, orderYear)) AS year,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags
        |FROM candidates GROUP BY 1""".stripMargin,
    "q07_union_recover" ->
      """WITH enriched AS (
        |  SELECT *, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events WHERE event_type IN ('click', 'view')
        |),
        |recovered AS (
        |  SELECT * FROM enriched
        |  UNION ALL
        |  SELECT e.*, NULL AS k FROM events e
        |  ANTI JOIN enriched en ON e.event_id = en.event_id
        |)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(k) AS BIGINT) AS n_k,
        |       CAST(sum(k) AS BIGINT) AS sum_k
        |FROM recovered GROUP BY 1""".stripMargin,
    "q08_dated_counts" ->
      """WITH sparse AS (
        |  SELECT l_returnflag AS datasourceId,
        |         CASE WHEN l_returnflag = 'R' THEN CAST(year(l_shipdate) AS INT)
        |              WHEN l_linenumber <= 2 THEN CAST(year(l_shipdate) AS INT) - 1
        |         END AS year
        |  FROM lineitem
        |)
        |SELECT datasourceId,
        |       CAST(count(*) AS BIGINT) AS n_evidence,
        |       CAST(count(year) AS BIGINT) AS n_dated
        |FROM sparse GROUP BY 1""".stripMargin,
    "q09_peaks" ->
      s"""WITH $OverallSql,
         |${PeaksSql("overall", PairKeys)}
         |SELECT diseaseId, targetId, peakYear, round(peak, 4) AS peak
         |FROM peaks WHERE round(peak, 4) > 0""".stripMargin,
    "q11_top_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (
        |           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
        |  FROM orders
        |) WHERE rank <= 1""".stripMargin,
    "q12_first_year" ->
      s"""WITH $EvSql
         |SELECT DISTINCT targetId, datasourceId,
         |       min(year) OVER (PARTITION BY targetId) AS first_year,
         |       round(max(score) OVER (PARTITION BY targetId, datasourceId), 4) AS max_score
         |FROM ev""".stripMargin,
    "q13_distinct_rollup" ->
      // tuple-distinct cascade, mirroring Rollups.distinctCascade
      // exactly: counts NULL key groups and is collision-free for ids
      // containing '|' (the old count(DISTINCT ...)/'||'-concat pair
      // dropped nulls and could conflate — latent mismatch, ADVICE r14)
      s"""WITH $EvSql,
         |tup AS (SELECT DISTINCT year, datasourceId, diseaseId, targetId FROM ev),
         |sub AS (SELECT year, datasourceId, targetId, count(*) AS np
         |        FROM tup GROUP BY 1, 2, 3)
         |SELECT year, datasourceId,
         |       CAST(count(*) AS BIGINT) AS n_targets,
         |       CAST(sum(np) AS BIGINT) AS n_pairs
         |FROM sub GROUP BY 1, 2""".stripMargin,
    "q14_crosstab" ->
      s"""WITH $EvSql
         |SELECT year,
         |       CAST(count(CASE WHEN datasourceId = 'A' THEN 1 END) AS BIGINT) AS n_A,
         |       CAST(count(CASE WHEN datasourceId = 'N' THEN 1 END) AS BIGINT) AS n_N,
         |       CAST(count(CASE WHEN datasourceId = 'R' THEN 1 END) AS BIGINT) AS n_R
         |FROM ev GROUP BY 1""".stripMargin,
    "q15_approval_composite" ->
      s"""WITH $BySourceSql,
         |$SourceNoveltySql,
         |drugs AS (
         |  SELECT o_orderkey AS drugId, CAST(year(o_orderdate) AS INT) AS approvalYear
         |  FROM orders
         |),
         |links AS (
         |  SELECT DISTINCT l_orderkey AS drugId, l_partkey AS targetId, l_suppkey AS diseaseId
         |  FROM lineitem WHERE l_linenumber = 4
         |),
         |ndt AS (
         |  SELECT DISTINCT targetId, diseaseId, approvalYear FROM (
         |    SELECT l.targetId, l.diseaseId, d.approvalYear,
         |           min(d.approvalYear) OVER (PARTITION BY l.targetId) AS minYear
         |    FROM drugs d JOIN links l USING (drugId)
         |  ) WHERE approvalYear = minYear
         |),
         |res AS (
         |  SELECT targetId, datasourceId, novelty, approvalYear,
         |         max(novelty) OVER (PARTITION BY targetId, datasourceId) AS maxN
         |  FROM ndt JOIN nv USING (diseaseId, targetId)
         |  WHERE novelty > 0 AND year IS NOT NULL
         |),
         |dtypes(datasourceId, datatypeId) AS
         |  (VALUES ('A', 'genetic'), ('N', 'literature'), ('R', 'clinical'))
         |SELECT dt.datatypeId, CAST(count(DISTINCT r.targetId) AS BIGINT) AS targets
         |FROM res r JOIN dtypes dt USING (datasourceId)
         |WHERE r.novelty = r.maxN AND r.approvalYear BETWEEN 1995 AND 1998
         |GROUP BY 1""".stripMargin,
    "q17_phase_union" ->
      s"""WITH $BySourceSql,
         |$SourceNoveltySql,
         |drugs AS (
         |  SELECT o_orderkey AS drugId, CAST(year(o_orderdate) AS INT) AS approvalYear
         |  FROM orders
         |),
         |links AS (
         |  SELECT DISTINCT l_orderkey AS drugId, l_partkey AS targetId, l_suppkey AS diseaseId
         |  FROM lineitem WHERE l_linenumber = 4
         |),
         |nd AS (
         |  SELECT DISTINCT drugId, targetId, diseaseId, approvalYear FROM (
         |    SELECT d.drugId, l.targetId, l.diseaseId, d.approvalYear,
         |           min(d.approvalYear) OVER (PARTITION BY l.targetId) AS minY
         |    FROM drugs d JOIN links l USING (drugId)
         |  ) WHERE approvalYear = minY
         |),
         |novrows AS (
         |  SELECT targetId, datasourceId, approvalYear, year, novelty FROM (
         |    SELECT nd.targetId, nv.datasourceId, nd.approvalYear, nv.year, nv.novelty,
         |           max(nv.novelty) OVER (PARTITION BY nd.targetId, nv.datasourceId) AS maxN
         |    FROM nd JOIN nv USING (diseaseId, targetId)
         |    WHERE nv.novelty > 0 AND nv.year IS NOT NULL
         |  ) WHERE novelty = maxN
         |),
         |phs AS (
         |  SELECT targetId, datasourceId, approvalYear, min(evYear) AS year FROM (
         |    SELECT l.l_orderkey AS drugId, l.l_partkey AS targetId,
         |           CASE WHEN l.l_linenumber IN (1, 2) THEN '1/2'
         |                ELSE CAST(l.l_linenumber AS VARCHAR) END AS datasourceId,
         |           CAST(year(l.l_shipdate) AS INT) AS evYear, n.approvalYear
         |    FROM lineitem l
         |    JOIN (SELECT DISTINCT drugId, targetId, approvalYear FROM nd) n
         |      ON n.drugId = l.l_orderkey AND n.targetId = l.l_partkey
         |  ) GROUP BY targetId, datasourceId, drugId, approvalYear
         |),
         |union_all AS (
         |  SELECT targetId, datasourceId, approvalYear, year, novelty FROM novrows
         |  UNION ALL
         |  SELECT targetId, datasourceId, approvalYear, year, 1.0 AS novelty FROM phs
         |),
         |dtypes(datasourceId, datatypeId) AS
         |  (VALUES ('A', 'genetic'), ('N', 'literature'), ('R', 'clinical'))
         |SELECT coalesce(dt.datatypeId, u.datasourceId) AS datatypeId,
         |       CAST(count(DISTINCT u.targetId) AS BIGINT) AS targets
         |FROM union_all u LEFT JOIN dtypes dt USING (datasourceId)
         |WHERE NOT (u.approvalYear < u.year AND u.datasourceId IN ('1/2', '3'))
         |GROUP BY 1""".stripMargin,
    "q16_ta_ranked" ->
      """WITH expl AS (
        |  SELECT CAST(s.s_suppkey AS BIGINT) AS diseaseId,
        |         unnest([CAST(s.s_nationkey + 100 AS BIGINT),
        |                 CAST(n.n_regionkey + 200 AS BIGINT)]) AS ta
        |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |),
        |pri(ta, ranking) AS
        |  (VALUES (CAST(202 AS BIGINT), 0), (CAST(200 AS BIGINT), 1), (CAST(104 AS BIGINT), 2)),
        |ranked AS (
        |  SELECT diseaseId, ta,
        |         row_number() OVER (
        |           PARTITION BY diseaseId ORDER BY coalesce(p.ranking, 1000), ta) AS r
        |  FROM expl LEFT JOIN pri p USING (ta)
        |),
        |names AS (
        |  SELECT CAST(n_nationkey + 100 AS BIGINT) AS ta, n_name AS taName FROM nation
        |  UNION ALL
        |  SELECT CAST(r_regionkey + 200 AS BIGINT), r_name FROM region
        |)
        |SELECT rk.diseaseId, rk.ta AS therapeuticArea, nm.taName AS therapeuticAreaName
        |FROM ranked rk LEFT JOIN names nm USING (ta)
        |WHERE rk.r = 1""".stripMargin,
    "q18_novel_by_ta" ->
      s"""WITH $BySourceSql,
         |$SourceNoveltySql,
         |expl AS (
         |  SELECT CAST(s.s_suppkey AS BIGINT) AS diseaseId,
         |         unnest([CAST(s.s_nationkey + 100 AS BIGINT),
         |                 CAST(n.n_regionkey + 200 AS BIGINT)]) AS ta
         |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
         |),
         |pri(ta, ranking) AS
         |  (VALUES (CAST(202 AS BIGINT), 0), (CAST(200 AS BIGINT), 1), (CAST(104 AS BIGINT), 2)),
         |tarank AS (
         |  SELECT diseaseId, ta,
         |         row_number() OVER (
         |           PARTITION BY diseaseId ORDER BY coalesce(p.ranking, 1000), ta) AS r
         |  FROM expl LEFT JOIN pri p USING (ta)
         |),
         |names AS (
         |  SELECT CAST(n_nationkey + 100 AS BIGINT) AS ta, n_name AS taName FROM nation
         |  UNION ALL
         |  SELECT CAST(r_regionkey + 200 AS BIGINT), r_name FROM region
         |),
         |tamap AS (
         |  SELECT rk.diseaseId, rk.ta, nm.taName
         |  FROM tarank rk LEFT JOIN names nm USING (ta) WHERE rk.r = 1
         |)
         |SELECT v.datasourceId, t.taName,
         |       CAST(count(DISTINCT (CAST(v.targetId AS VARCHAR) || '|' || CAST(v.diseaseId AS VARCHAR))) AS BIGINT)
         |         AS association
         |FROM nv v JOIN tamap t USING (diseaseId)
         |WHERE v.novelty >= 0.1 AND v.year = 1999 AND t.ta NOT IN (203, 204)
         |GROUP BY 1, 2""".stripMargin,
    // Rolling-anomaly oracle: the variance is spelled as the identical
    // sum/sum-of-squares expression the Scala side evaluates, so both
    // engines hit the same fp formula; 1e-12 floors a constant
    // baseline on both sides.
    "q104_rolling_anomaly" ->
      s"""WITH $OverallSql,
         |s AS (
         |  SELECT diseaseId, targetId, year, coalesce(score, 0) AS s0 FROM overall
         |),
         |r AS (
         |  SELECT diseaseId, targetId, year, s0,
         |         CAST(count(*) OVER w AS DOUBLE) AS n,
         |         sum(s0) OVER w AS sm,
         |         sum(s0 * s0) OVER w AS s2
         |  FROM s
         |  WINDOW w AS (PARTITION BY diseaseId, targetId ORDER BY year
         |               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
         |),
         |f AS (
         |  SELECT diseaseId, targetId, year, s0, n, sm,
         |         (s2 - sm * sm / n) / (n - 1) AS v
         |  FROM r WHERE n >= 3
         |)
         |SELECT diseaseId, targetId, year, round(s0, 4) AS score,
         |       round((s0 - sm / n)
         |             / CASE WHEN v > 1e-12 THEN sqrt(v) END, 4) AS z
         |FROM f
         |WHERE v > 1e-12
         |  AND round((s0 - sm / n)
         |            / CASE WHEN v > 1e-12 THEN sqrt(v) END, 4) >= 2.0""".stripMargin,
    "q147_linear_trend" ->
      s"""WITH series AS (
        |$EvidenceYearCountsSql
        |),
        |${LinearTrendSql("series", Seq("datasourceId"))}
        |SELECT * FROM trend""".stripMargin,
    "q165_growth" ->
      s"""WITH $EvSql,
         |series AS (
         |  SELECT datasourceId, year, CAST(count(*) AS BIGINT) AS n
         |  FROM ev GROUP BY 1, 2
         |),
         |g AS (
         |  SELECT datasourceId, year, n,
         |         lag(n) OVER (PARTITION BY datasourceId ORDER BY year) AS prev,
         |         arg_min(n, year) OVER (PARTITION BY datasourceId) AS fv,
         |         arg_max(n, year) OVER (PARTITION BY datasourceId) AS lv,
         |         max(year) OVER (PARTITION BY datasourceId)
         |           - min(year) OVER (PARTITION BY datasourceId) AS span
         |  FROM series
         |)
         |SELECT datasourceId, year, n,
         |       round(CAST(n AS DOUBLE) / prev - 1, 4) AS yoy,
         |       CASE WHEN span > 0 AND fv > 0
         |         THEN round(pow(CAST(lv AS DOUBLE) / fv, 1.0 / span) - 1, 4)
         |       END AS cagr
         |FROM g""".stripMargin,
    "q159_seasonal" ->
      """WITH m AS (
        |  SELECT event_type, CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS month,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, month, n,
        |       round(12.0 * n / sum(n) OVER (PARTITION BY event_type), 4) AS idx
        |FROM m""".stripMargin,
    "q152_locf" ->
      """WITH series AS (
        |  SELECT l_returnflag AS datasourceId,
        |         CAST(year(l_shipdate) AS INT) AS year,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2
        |),
        |l AS (
        |  SELECT *, lead(year) OVER (PARTITION BY datasourceId ORDER BY year) AS ny
        |  FROM series
        |),
        |d AS (
        |  SELECT datasourceId, year, n,
        |         unnest(range(year, coalesce(ny - 1, year) + 1)) AS yo
        |  FROM l
        |)
        |SELECT datasourceId, CAST(yo AS INT) AS year, n, (yo <> year) AS filled
        |FROM d""".stripMargin,
    "q140_autocorr" ->
      s"""WITH $EvSql,
         |s AS (
         |  SELECT datasourceId, year, CAST(count(*) AS BIGINT) AS n
         |  FROM ev GROUP BY 1, 2
         |),
         |p AS (
         |  SELECT a.datasourceId, k.k AS lag, a.n AS x, b.n AS y
         |  FROM s a
         |  CROSS JOIN (SELECT CAST(unnest(range(1, 4)) AS INT) AS k) k
         |  JOIN s b ON b.datasourceId = a.datasourceId
         |          AND b.year = a.year - k.k
         |),
         |m AS (
         |  SELECT datasourceId, lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
         |  FROM p GROUP BY 1, 2
         |)
         |SELECT datasourceId, lag, CAST(n AS BIGINT) AS n_pairs,
         |       CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
         |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE) /
         |              sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
         |                 * CAST(n*syy - sy*sy AS DOUBLE)), 4)
         |       END AS acf
         |FROM m""".stripMargin,
    "q139_cusum" ->
      """WITH s AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |t AS (
        |  SELECT *, CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS d
        |  FROM s
        |),
        |r AS (
        |  SELECT *, CAST(sum(n * d - tt) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS ss
        |  FROM t
        |),
        |m AS (
        |  SELECT *, ss - least(CAST(0 AS BIGINT), CAST(min(ss) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
        |    AS drift
        |  FROM r
        |)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, drift,
        |       drift * 10 > tt * d AS flag
        |FROM m""".stripMargin,
    // Periodogram replay: same phase micro-means, milli trig weights
    // (identical written form — a 1-ulp libm gap dies at the round),
    // HUGEINT Fourier sums, integer peak-phase pick.
    "q329_periodogram" ->
      s"""WITH s AS (
        |${DailyCountsSql("n")}
        |),
        |ph AS (
        |  SELECT event_type, p.period, day % p.period AS r,
        |         CAST(sum(n) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM s CROSS JOIN (SELECT unnest([7, 30]) AS period) p
        |  GROUP BY 1, 2, 3
        |),
        |m AS (
        |  SELECT *, CAST(floor(CAST(s AS DOUBLE) * 1e6 / c) AS BIGINT) AS m
        |  FROM ph
        |),
        |wn AS (
        |  SELECT *,
        |    CAST(sum(m) OVER (PARTITION BY event_type, period) AS BIGINT) AS ct,
        |    CAST(count(*) OVER (PARTITION BY event_type, period) AS BIGINT) AS pp,
        |    CAST(max(m) OVER (PARTITION BY event_type, period) AS BIGINT) AS mx
        |  FROM m
        |),
        |cw AS (
        |  SELECT *, m * pp - ct AS cr,
        |    CAST(round(cos(2 * pi() * r / period) * 1000) AS BIGINT) AS cwt,
        |    CAST(round(sin(2 * pi() * r / period) * 1000) AS BIGINT) AS swt
        |  FROM wn
        |),
        |a AS (
        |  SELECT event_type, period,
        |         any_value(pp) AS n_phases,
        |         sum(CAST(cr AS HUGEINT) * cwt) AS A,
        |         sum(CAST(cr AS HUGEINT) * swt) AS B,
        |         min(CASE WHEN m = mx THEN r END) AS peak_phase
        |  FROM cw GROUP BY 1, 2
        |)
        |SELECT event_type, period, n_phases,
        |       round(sqrt(CAST(A*A + B*B AS DOUBLE)) * 2
        |             / CAST(n_phases * n_phases AS DOUBLE) / 1e9, 4) AS amp,
        |       peak_phase
        |FROM a""".stripMargin,
    // PH replay: deviations vs the running mean fixed to micro-units
    // via floor-of-double (the engine-portable division), then exact
    // integer running sum / running min — the q139 window scaffold.
    "q319_page_hinkley" ->
      """WITH s AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT *,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tt,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sr,
        |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS i
        |  FROM s
        |),
        |d AS (
        |  SELECT *, n * 1000000 - CAST(floor(CAST(sr AS DOUBLE) * 1e6
        |    / CAST(i AS DOUBLE)) AS BIGINT) AS dev
        |  FROM r
        |),
        |m AS (
        |  SELECT *, CAST(sum(dev) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mm
        |  FROM d
        |)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |       mm - CAST(min(mm) OVER (PARTITION BY event_type ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS ph,
        |       (mm - CAST(min(mm) OVER (PARTITION BY event_type ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
        |         * 10 > tt * 1000000 AS flag
        |FROM m""".stripMargin,
    "q120_ewma" ->
      s"""WITH $OverallSql,
         |s AS (
         |  SELECT diseaseId, targetId, year, coalesce(score, 0) AS s0 FROM overall
         |  WHERE year <> 2002 -- the undated surrogate (NULL on the engine side)
         |),
         |r AS (
         |  SELECT diseaseId, targetId, year, s0,
         |         row_number() OVER (PARTITION BY diseaseId, targetId
         |           ORDER BY year) AS rn
         |  FROM s
         |),
         |g AS (
         |  SELECT diseaseId, targetId, year, s0, rn,
         |         CASE WHEN rn = 1 THEN s0 * 2.0
         |              ELSE s0 * pow(2.0, rn - 1) END AS gg
         |  FROM r
         |)
         |SELECT diseaseId, targetId, year, round(s0, 4) AS score,
         |       round(sum(gg) OVER (PARTITION BY diseaseId, targetId
         |           ORDER BY year ROWS UNBOUNDED PRECEDING)
         |         / pow(2.0, rn), 4) AS ewma
         |FROM g""".stripMargin,
    "q119_interpolate" ->
      """WITH s AS (
        |  SELECT l_partkey, l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS y,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2, 3
        |),
        |n AS (
        |  SELECT *,
        |    lead(y) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY y) AS ny,
        |    lead(v) OVER (PARTITION BY l_partkey, l_suppkey ORDER BY y) AS nv
        |  FROM s
        |),
        |x AS (
        |  SELECT l_partkey, l_suppkey, y, v, ny, nv,
        |         unnest(range(y, CASE WHEN ny IS NULL THEN y + 1 ELSE ny END)) AS yo
        |  FROM n
        |)
        |SELECT l_partkey, l_suppkey, CAST(yo AS BIGINT) AS year,
        |       round(CASE WHEN yo = y THEN CAST(v AS DOUBLE)
        |             ELSE CAST(v AS DOUBLE) + CAST(nv - v AS DOUBLE)
        |               * (CAST(yo - y AS DOUBLE) / CAST(ny - y AS DOUBLE))
        |             END, 4) AS v,
        |       yo <> y AS interpolated
        |FROM x""".stripMargin,
    "q19_peak_correlation" ->
      s"""WITH RECURSIVE $BySourceSql,
         |$PeakYearPairsSql,
         |$CorrPTailSql""".stripMargin,
    // replays the deterministic permutation: lane = (source, md5-shard
    // of the pair id), key rank by md5, value rank by (year, md5),
    // rank-to-rank join, then the same corr as q19
    "q86_shuffled_correlation" ->
      s"""WITH RECURSIVE $BySourceSql,
         |${PeaksSql("bysource", SourceKeys, "pk")},
         |fp AS MATERIALIZED (
         |  SELECT diseaseId, targetId, datasourceId,
         |         CAST(min(peakYear) AS INT) AS peakYear,
         |         md5(CAST(diseaseId AS VARCHAR) || '|' || CAST(targetId AS VARCHAR)
         |             || ':perm') AS h
         |  FROM pk WHERE peak > 0 GROUP BY 1, 2, 3
         |),
         |sh AS MATERIALIZED (
         |  SELECT *, CAST(${HexBucketSql("h")} % 16 AS BIGINT) AS shard FROM fp
         |),
         |kr AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY datasourceId, shard ORDER BY h) AS r
         |  FROM sh
         |),
         |vr AS (
         |  SELECT datasourceId, shard, peakYear AS permYear,
         |         row_number() OVER (
         |           PARTITION BY datasourceId, shard ORDER BY peakYear, h) AS r
         |  FROM sh
         |),
         |perm AS MATERIALIZED (
         |  SELECT kr.diseaseId, kr.targetId, kr.datasourceId, vr.permYear
         |  FROM kr JOIN vr USING (datasourceId, shard, r)
         |),
         |j AS (
         |  SELECT a.datasourceId AS datasourceIdA, b.datasourceId AS datasourceIdB,
         |         a.permYear AS yearA, b.permYear AS yearB
         |  FROM perm a JOIN perm b USING (diseaseId, targetId)
         |),
         |$CorrPTailSql""".stripMargin,
    // Cross-correlation replay: identical dense calendar, identical
    // integer min-centering, the same five exact sums per lag.
    "q190_xcorr" ->
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
        |  SELECT c.day, coalesce(d.na, 0) AS na, coalesce(d.nb, 0) AS nb
        |  FROM cal c LEFT JOIN d USING (day)
        |),
        |ctr AS (
        |  SELECT day, na - (SELECT min(na) FROM dense) AS a,
        |         nb - (SELECT min(nb) FROM dense) AS b
        |  FROM dense
        |),
        |lags AS (SELECT unnest(range(-3, 4)) AS lag),
        |s AS (
        |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_days,
        |         sum(x.a) AS sa, sum(y.b) AS sb, sum(x.a * x.a) AS saa,
        |         sum(y.b * y.b) AS sbb, sum(x.a * y.b) AS sab
        |  FROM ctr x CROSS JOIN lags l JOIN ctr y ON y.day = x.day + l.lag
        |  GROUP BY 1
        |)
        |SELECT CAST(lag AS BIGINT) AS lag, n_days,
        |       round(CAST(n_days * sab - sa * sb AS DOUBLE)
        |             / NULLIF(sqrt(CAST(n_days * saa - sa * sa AS DOUBLE)
        |                           * CAST(n_days * sbb - sb * sb AS DOUBLE)), 0), 4) AS r
        |FROM s""".stripMargin,
    // Theil–Sen replay: same (x, y) long series, same in-list pair
    // slopes, both engines sort the SAME doubles before the median.
    "q195_theil_sen" ->
      s"""WITH s AS (
        |$EvidenceYearCountsSql
        |),
        |arr AS (
        |  SELECT datasourceId,
        |         list(struct_pack(x := x, y := y) ORDER BY x) AS a,
        |         CAST(count(*) AS BIGINT) AS n_points
        |  FROM s GROUP BY 1
        |),
        |sl AS (
        |  SELECT datasourceId, n_points,
        |         list_sort(flatten(list_transform(range(1, CAST(n_points AS INT) + 1), i ->
        |           list_transform(range(i + 1, CAST(n_points AS INT) + 1), j ->
        |             CAST(a[j].y - a[i].y AS DOUBLE) / (a[j].x - a[i].x))))) AS sls
        |  FROM arr
        |)
        |SELECT datasourceId, n_points, CAST(len(sls) AS BIGINT) AS n_slopes,
        |       round(CASE WHEN len(sls) % 2 = 1 THEN sls[(len(sls) + 1) // 2]
        |                  ELSE (sls[len(sls) // 2] + sls[len(sls) // 2 + 1]) / 2
        |             END, 4) AS slope
        |FROM sl WHERE len(sls) > 0""".stripMargin,
    // Changepoint replay: same cumulative/total long sums, gain
    // rounded 6dp BEFORE the (gain desc, day) argmax rank.
    "q197_changepoint" ->
      s"""WITH d AS (
        |${DailyCountsSql("y")}
        |),
        |c AS (
        |  SELECT event_type, day, y,
        |         sum(y) OVER (PARTITION BY event_type ORDER BY day
        |                      ROWS UNBOUNDED PRECEDING) AS cy,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |         count(*) OVER (PARTITION BY event_type) AS n,
        |         sum(y) OVER (PARTITION BY event_type) AS s
        |  FROM d
        |),
        |gg AS (
        |  SELECT event_type, day, i, n,
        |         round(CAST(cy * cy AS DOUBLE) / i
        |               + CAST((s - cy) * (s - cy) AS DOUBLE) / (n - i)
        |               - CAST(s * s AS DOUBLE) / n, 6) AS gain
        |  FROM c WHERE i < n
        |),
        |rk AS (
        |  SELECT event_type, day, n, gain,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY gain DESC, day) AS rnk
        |  FROM gg
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n_points, day AS split_x,
        |       round(gain, 4) AS gain
        |FROM rk WHERE rnk = 1""".stripMargin,
    // DW replay: the q147 fit (LinearTrendSql's 4dp slope/intercept),
    // residuals in integer micro-units, exact long DW sums.
    "q205_durbin_watson" ->
      s"""WITH series AS (
        |$EvidenceYearCountsSql
        |),
        |${LinearTrendSql("series", Seq("datasourceId"))},
        |e AS (
        |  SELECT s.datasourceId, s.x,
        |         CAST(round((CAST(s.y AS DOUBLE)
        |               - (f.intercept + f.slope * CAST(s.x AS DOUBLE))) * 1e6) AS BIGINT) AS ei
        |  FROM series s JOIN trend f USING (datasourceId)
        |),
        |w AS (
        |  SELECT datasourceId, ei,
        |         ei - lag(ei) OVER (PARTITION BY datasourceId ORDER BY x) AS de
        |  FROM e
        |)
        |SELECT datasourceId, CAST(count(*) AS BIGINT) AS n_points,
        |       round(CAST(sum(CAST(de AS HUGEINT) * CAST(de AS HUGEINT)) AS DOUBLE)
        |             / NULLIF(CAST(sum(CAST(ei AS HUGEINT) * CAST(ei AS HUGEINT)) AS DOUBLE), 0), 4) AS dw
        |FROM w GROUP BY 1""".stripMargin,
    // Backtest replay: the q120 EWMA closed form, lagged one step,
    // errors in integer micro-units before the sums.
    "q211_ewma_backtest" ->
      s"""WITH series AS (
        |$EvidenceYearCountsSql
        |),
        |r AS (
        |  SELECT datasourceId, x, y,
        |         row_number() OVER (PARTITION BY datasourceId ORDER BY x) AS rn
        |  FROM series
        |),
        |g AS (
        |  SELECT *, CASE WHEN rn = 1 THEN y * 2.0 ELSE y * pow(2.0, rn - 1) END AS gg
        |  FROM r
        |),
        |sm AS (
        |  SELECT datasourceId, x, y,
        |         sum(gg) OVER (PARTITION BY datasourceId ORDER BY x
        |                       ROWS UNBOUNDED PRECEDING) / pow(2.0, rn) AS s
        |  FROM g
        |),
        |f AS (
        |  SELECT datasourceId, x, y,
        |         lag(s) OVER (PARTITION BY datasourceId ORDER BY x) AS fc
        |  FROM sm
        |),
        |e AS (
        |  SELECT datasourceId,
        |         CAST(abs(round((CAST(y AS DOUBLE) - fc) * 1e6)) AS BIGINT) AS errU,
        |         CASE WHEN CAST(y AS DOUBLE) > 0
        |           THEN CAST(abs(round((CAST(y AS DOUBLE) - fc) / CAST(y AS DOUBLE) * 1e6)) AS BIGINT)
        |         END AS apeU
        |  FROM f WHERE fc IS NOT NULL
        |)
        |SELECT datasourceId, CAST(count(*) AS BIGINT) AS n_forecasts,
        |       CAST(count(*) FILTER (apeU IS NULL) AS BIGINT) AS n_skipped,
        |       round(CAST(sum(errU) AS DOUBLE) / count(*) / 1e6, 4) AS mae,
        |       round(CAST(sum(apeU) AS DOUBLE)
        |             / NULLIF(CAST(count(apeU) AS DOUBLE), 0) / 1e6, 4) AS mape
        |FROM e GROUP BY 1""".stripMargin,
    // STL-lite replay: same partial centered frames, same micro-unit
    // quantizations, HUGEINT residual moments.
    // MACD replay: the (ef, es) fold reads ONLY its own accumulator
    // field + the element (the shape this engine's struct list_reduce
    // evaluates correctly — an inlined cross-field signal expression
    // mis-evaluates, the q301 lesson extended); the signal then comes
    // from a SCALAR fold over the per-prefix macd series (O(n²)
    // nested reduces — oracle-side only, n is calendar-bounded).
    // macd_1 = 0 seeds the scalar fold naturally.
    "q309_macd" ->
      s"""WITH s AS (
        |${DailyCountsSql("y")}
        |),
        |arr AS (
        |  SELECT event_type, list(y * 1000000 ORDER BY day) AS a,
        |         CAST(count(*) AS BIGINT) AS n_points
        |  FROM s GROUP BY 1
        |),
        |st AS (
        |  SELECT event_type, n_points,
        |    list_reduce(
        |      list_transform(a, yu -> struct_pack(
        |        ef := CAST(yu AS BIGINT), es := CAST(yu AS BIGINT))),
        |      (acc, e) -> struct_pack(
        |        ef := CAST(floor((acc.ef * 11 + 2 * e.ef) / 13.0) AS BIGINT),
        |        es := CAST(floor((acc.es * 25 + 2 * e.ef) / 27.0) AS BIGINT))) AS fold,
        |    list_reduce(
        |      list_transform(range(1, CAST(n_points AS INT) + 1), t ->
        |        (list_reduce(
        |           list_transform(a[1:t], yu -> struct_pack(
        |             ef := CAST(yu AS BIGINT), es := CAST(yu AS BIGINT))),
        |           (acc, e) -> struct_pack(
        |             ef := CAST(floor((acc.ef * 11 + 2 * e.ef) / 13.0) AS BIGINT),
        |             es := CAST(floor((acc.es * 25 + 2 * e.ef) / 27.0) AS BIGINT)))).ef
        |        - (list_reduce(
        |           list_transform(a[1:t], yu -> struct_pack(
        |             ef := CAST(yu AS BIGINT), es := CAST(yu AS BIGINT))),
        |           (acc, e) -> struct_pack(
        |             ef := CAST(floor((acc.ef * 11 + 2 * e.ef) / 13.0) AS BIGINT),
        |             es := CAST(floor((acc.es * 25 + 2 * e.ef) / 27.0) AS BIGINT)))).es),
        |      (acc, e) -> CAST(floor((acc * 8 + 2 * e) / 10.0) AS BIGINT)) AS sig
        |  FROM arr
        |)
        |SELECT event_type, n_points,
        |       CAST(round(CAST(fold.ef - fold.es AS DOUBLE) / 100.0)
        |            AS BIGINT) / 10000.0 AS macd,
        |       CAST(round(CAST(sig AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS signal,
        |       CAST(round((CAST(fold.ef - fold.es AS DOUBLE)
        |              - CAST(sig AS DOUBLE)) / 100.0) AS BIGINT) / 10000.0
        |         AS histogram
        |FROM st""".stripMargin,
    // RSI replay: the D21 fold contract, BRANCH-FREE inside the
    // lambda (this engine's struct-state list_reduce mis-evaluates
    // accumulator-referencing conditionals — probed; arithmetic and
    // greatest() are exact). The simple-mean seed is computed outside
    // and PREPENDED as the fold list's first element (list_reduce has
    // no init arg); integer micro-unit averages, floor-of-double
    // divisions, RS ratio one double at the end.
    "q301_rsi" ->
      s"""WITH s AS (
        |${DailyCountsSql("y")}
        |),
        |arr AS (
        |  SELECT event_type, list(y ORDER BY day) AS a,
        |         CAST(count(*) AS BIGINT) AS n_points
        |  FROM s GROUP BY 1
        |),
        |sd AS (
        |  SELECT event_type, n_points, a,
        |         CAST(floor(list_sum(list_transform(range(2, 16),
        |             i -> greatest(a[i] - a[i-1], 0))) * 1000000.0 / 14.0)
        |           AS BIGINT) AS seed_g,
        |         CAST(floor(list_sum(list_transform(range(2, 16),
        |             i -> greatest(a[i-1] - a[i], 0))) * 1000000.0 / 14.0)
        |           AS BIGINT) AS seed_l
        |  FROM arr WHERE n_points >= 15
        |),
        |st AS (
        |  SELECT event_type, n_points,
        |    list_reduce(
        |      list_concat(
        |        [struct_pack(prev := a[15], ag := seed_g, al := seed_l)],
        |        list_transform(a[16:], y -> struct_pack(
        |          prev := y, ag := CAST(0 AS BIGINT), al := CAST(0 AS BIGINT)))),
        |      (acc, e) -> struct_pack(
        |        prev := e.prev,
        |        ag := CAST(floor((acc.ag * 13
        |          + greatest(e.prev - acc.prev, 0) * 1000000) / 14.0) AS BIGINT),
        |        al := CAST(floor((acc.al * 13
        |          + greatest(acc.prev - e.prev, 0) * 1000000) / 14.0) AS BIGINT)))
        |      AS fold
        |  FROM sd
        |)
        |SELECT arr.event_type, arr.n_points,
        |       round(CASE WHEN arr.n_points < 15 THEN NULL
        |                  WHEN st.fold.al = 0 THEN 100.0
        |                  ELSE 100.0 - 100.0 / (1.0 + CAST(st.fold.ag AS DOUBLE)
        |                                              / CAST(st.fold.al AS DOUBLE))
        |             END, 4) AS rsi
        |FROM arr LEFT JOIN st USING (event_type)""".stripMargin,
    // strength replay: the q230 component pipeline, three HUGEINT
    // moment triples over one frame, the variance ratio in written
    // order with the null gate OUTSIDE greatest (both engines'
    // greatest skips nulls).
    "q297_stl_strength" ->
      s"""WITH $StlTrendSql,
        |b AS (SELECT event_type, day % 7 AS phase, y, y * 1000000 - tu AS du FROM t),
        |se AS (
        |  SELECT event_type, phase,
        |         CAST(round(CAST(sum(CAST(du AS HUGEINT)) AS DOUBLE) / count(*)) AS BIGINT) AS su
        |  FROM b GROUP BY 1, 2
        |),
        |f AS (
        |  SELECT b.event_type,
        |         CAST(b.du - se.su AS HUGEINT) AS r,
        |         CAST(b.du AS HUGEINT) AS sr,
        |         CAST(b.y * 1000000 - se.su AS HUGEINT) AS tr
        |  FROM b JOIN se ON se.event_type = b.event_type AND se.phase = b.phase
        |),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_points,
        |         sum(r) AS rs, sum(r * r) AS rq,
        |         sum(sr) AS ss, sum(sr * sr) AS sq,
        |         sum(tr) AS ts2, sum(tr * tr) AS tq
        |  FROM f GROUP BY 1 HAVING count(*) > 1
        |)
        |SELECT event_type, n_points,
        |       round(CASE WHEN CAST(tq AS DOUBLE) - CAST(ts2 AS DOUBLE) * CAST(ts2 AS DOUBLE) / n_points <= 0
        |                  THEN NULL
        |                  ELSE greatest(0.0, 1.0 -
        |                    (CAST(rq AS DOUBLE) - CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE) / n_points)
        |                    / (CAST(tq AS DOUBLE) - CAST(ts2 AS DOUBLE) * CAST(ts2 AS DOUBLE) / n_points))
        |             END, 4) AS trend_strength,
        |       round(CASE WHEN CAST(sq AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n_points <= 0
        |                  THEN NULL
        |                  ELSE greatest(0.0, 1.0 -
        |                    (CAST(rq AS DOUBLE) - CAST(rs AS DOUBLE) * CAST(rs AS DOUBLE) / n_points)
        |                    / (CAST(sq AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n_points))
        |             END, 4) AS seasonal_strength
        |FROM m""".stripMargin,
    "q230_seasonal_decompose" ->
      s"""WITH $StlTrendSql,
        |b AS (SELECT event_type, day % 7 AS phase, y * 1000000 - tu AS du FROM t),
        |se AS (
        |  SELECT event_type, phase, CAST(count(*) AS BIGINT) AS n,
        |         CAST(round(CAST(sum(CAST(du AS HUGEINT)) AS DOUBLE) / count(*)) AS BIGINT) AS su
        |  FROM b GROUP BY 1, 2
        |),
        |rs AS (
        |  SELECT b.event_type,
        |         CAST(count(*) AS BIGINT) AS rn,
        |         sum(CAST(b.du - se.su AS HUGEINT)) AS rsum,
        |         sum(CAST(b.du - se.su AS HUGEINT) * CAST(b.du - se.su AS HUGEINT)) AS rq
        |  FROM b JOIN se ON se.event_type = b.event_type AND se.phase = b.phase
        |  GROUP BY 1
        |),
        |rr AS (
        |  SELECT event_type,
        |         CASE WHEN rn > 1 THEN
        |           round(sqrt((CAST(rq AS DOUBLE) - CAST(rsum AS DOUBLE) * CAST(rsum AS DOUBLE) / rn)
        |                      / (rn - 1)) / 1e6, 4) END AS resid_sd
        |  FROM rs
        |)
        |SELECT se.event_type, se.phase, se.n,
        |       CAST(round(CAST(se.su AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS seasonal, rr.resid_sd
        |FROM se JOIN rr USING (event_type)""".stripMargin,
    // STL-anomaly replay: the q230 pipeline + the 4dp-threshold keep
    // test against 2 sigma.
    "q253_stl_anomalies" ->
      s"""WITH $StlTrendSql,
        |b AS (SELECT event_type, day, y, tu, day % 7 AS phase, y * 1000000 - tu AS du FROM t),
        |se AS (
        |  SELECT event_type, phase,
        |         CAST(round(CAST(sum(CAST(du AS HUGEINT)) AS DOUBLE) / count(*)) AS BIGINT) AS su
        |  FROM b GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT b.event_type, b.day, b.y, b.tu, se.su, b.du - se.su AS rr
        |  FROM b JOIN se ON se.event_type = b.event_type AND se.phase = b.phase
        |),
        |sd AS (
        |  SELECT event_type,
        |         round(sqrt((CAST(sum(CAST(rr AS HUGEINT) * rr) AS DOUBLE)
        |                     - CAST(sum(CAST(rr AS HUGEINT)) AS DOUBLE)
        |                       * CAST(sum(CAST(rr AS HUGEINT)) AS DOUBLE) / count(*))
        |                    / (count(*) - 1)) / 1e6, 4) AS sd4
        |  FROM r GROUP BY 1 HAVING count(*) > 1
        |)
        |SELECT r.event_type, r.day, r.y,
        |       CAST(round((CAST(r.tu AS DOUBLE) + CAST(r.su AS DOUBLE)) / 100.0)
        |            AS BIGINT) / 10000.0 AS expected,
        |       CAST(round(CAST(r.rr AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS resid
        |FROM r JOIN sd USING (event_type)
        |WHERE sd.sd4 > 0
        |  AND abs(CAST(round(CAST(r.rr AS DOUBLE) / 100.0) AS BIGINT) / 10000.0)
        |      > 2.0 * sd.sd4""".stripMargin,
    // Holt replay: same ordered fold via list_reduce, same integer
    // micro-unit floor-halving state, same 4dp outputs.
    "q272_holt_backtest" ->
      s"""WITH $DailyMicroCountsSql,
        |l AS (SELECT event_type, list(yu ORDER BY day) AS ys FROM s GROUP BY 1),
        |f AS (
        |  SELECT event_type,
        |         list_reduce(
        |           list_transform(ys, y -> [y, CAST(0 AS BIGINT),
        |                                    CAST(0 AS BIGINT), CAST(0 AS BIGINT)]),
        |           (a, x) -> [
        |             CAST(floor((x[1] + a[1] + a[2]) / 2.0) AS BIGINT),
        |             CAST(floor(((CAST(floor((x[1] + a[1] + a[2]) / 2.0) AS BIGINT)
        |                          - a[1]) + a[2]) / 2.0) AS BIGINT),
        |             a[3] + abs(x[1] - a[1] - a[2]),
        |             a[4] + 1]) AS st
        |  FROM l WHERE len(ys) >= 2
        |)
        |SELECT event_type, st[4] AS n_forecasts,
        |       round(CAST(st[3] AS DOUBLE) / st[4] / 1e6, 4) AS mae,
        |       CAST(round(CAST(st[1] + st[2] AS DOUBLE) / 100.0) AS BIGINT)
        |         / 10000.0 AS forecast_next
        |FROM f""".stripMargin,
    // Croston replay: the q272 list-state fold with both fields
    // self-only (z := half(z+yu), p := half(p+gu)); intervals from a
    // lag window, first interval = 1 day by convention.
    "q321_croston" ->
      s"""WITH s AS (
        |  SELECT user_id,
        |         $DaySql AS day,
        |         CAST(count(*) AS BIGINT) * 1000000 AS yu
        |  FROM events GROUP BY 1, 2
        |),
        |g AS (
        |  SELECT user_id, day, yu,
        |         coalesce(day - lag(day) OVER (PARTITION BY user_id
        |           ORDER BY day), CAST(1 AS BIGINT)) * 1000000 AS gu
        |  FROM s
        |),
        |l AS (
        |  SELECT user_id,
        |         list([yu, gu, CAST(1 AS BIGINT)] ORDER BY day) AS ps
        |  FROM g GROUP BY 1
        |),
        |f AS (
        |  SELECT user_id,
        |         list_reduce(ps, (a, x) -> [
        |           CAST(floor((a[1] + x[1]) / 2.0) AS BIGINT),
        |           CAST(floor((a[2] + x[2]) / 2.0) AS BIGINT),
        |           a[3] + 1]) AS st
        |  FROM l
        |)
        |SELECT user_id, st[3] AS n_demands,
        |       CAST(round(CAST(st[1] AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS size_hat,
        |       CAST(round(CAST(st[2] AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS interval_hat,
        |       round(CAST(st[1] AS DOUBLE) / CAST(st[2] AS DOUBLE), 4)
        |         AS forecast
        |FROM f""".stripMargin,
    // MASE replay: the q272 Holt fold + a lag-7 naive MAE over the
    // same day series, 4dp ratio.
    "q288_mase" ->
      s"""WITH $DailyMicroCountsSql,
        |l AS (SELECT event_type, list(yu ORDER BY day) AS ys FROM s GROUP BY 1),
        |f AS (
        |  SELECT event_type,
        |         list_reduce(
        |           list_transform(ys, y -> [y, CAST(0 AS BIGINT),
        |                                    CAST(0 AS BIGINT), CAST(0 AS BIGINT)]),
        |           (a, x) -> [
        |             CAST(floor((x[1] + a[1] + a[2]) / 2.0) AS BIGINT),
        |             CAST(floor(((CAST(floor((x[1] + a[1] + a[2]) / 2.0) AS BIGINT)
        |                          - a[1]) + a[2]) / 2.0) AS BIGINT),
        |             a[3] + abs(x[1] - a[1] - a[2]),
        |             a[4] + 1]) AS st
        |  FROM l WHERE len(ys) >= 2
        |),
        |h AS (
        |  SELECT event_type, st[4] AS n_forecasts,
        |         round(CAST(st[3] AS DOUBLE) / st[4] / 1e6, 4) AS mae_model
        |  FROM f
        |),
        |nv AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(abs(yu - lg)) AS BIGINT) AS sn
        |  FROM (
        |    SELECT event_type, yu,
        |           lag(yu, 7) OVER (PARTITION BY event_type ORDER BY day) AS lg
        |    FROM s
        |  ) WHERE lg IS NOT NULL
        |  GROUP BY 1 HAVING count(*) > 0 AND sum(abs(yu - lg)) > 0
        |),
        |n2 AS (
        |  SELECT event_type, round(CAST(sn AS DOUBLE) / nn / 1e6, 4) AS mae_naive
        |  FROM nv
        |)
        |SELECT h.event_type, h.n_forecasts, h.mae_model, n2.mae_naive,
        |       round(h.mae_model / n2.mae_naive, 4) AS mase
        |FROM h JOIN n2 USING (event_type)""".stripMargin,
    // Spectral-entropy replay: the q329 integer phase machinery over
    // the 8-period bank, amp²-normalized powers, entropy fold via
    // Σ p·lnp = (Σ P·lnP)/T − lnT, 4dp.
    "q377_spectral_entropy" ->
      s"""WITH s AS (
        |${DailyCountsSql("n")}
        |),
        |ph AS (
        |  SELECT event_type, p.period, day % p.period AS r,
        |         CAST(sum(n) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM s CROSS JOIN (SELECT unnest([2, 3, 4, 5, 6, 7, 14, 30]) AS period) p
        |  GROUP BY 1, 2, 3
        |),
        |m AS (
        |  SELECT *, CAST(floor(CAST(s AS DOUBLE) * 1e6 / c) AS BIGINT) AS m
        |  FROM ph
        |),
        |wn AS (
        |  SELECT *,
        |    CAST(sum(m) OVER (PARTITION BY event_type, period) AS BIGINT) AS ct,
        |    CAST(count(*) OVER (PARTITION BY event_type, period) AS BIGINT) AS pp
        |  FROM m
        |),
        |cw AS (
        |  SELECT *, m * pp - ct AS cr,
        |    CAST(round(cos(2 * pi() * r / period) * 1000) AS BIGINT) AS cwt,
        |    CAST(round(sin(2 * pi() * r / period) * 1000) AS BIGINT) AS swt
        |  FROM wn
        |),
        |a AS (
        |  SELECT event_type, period, any_value(pp) AS np,
        |         sum(CAST(cr AS HUGEINT) * cwt) AS A,
        |         sum(CAST(cr AS HUGEINT) * swt) AS B
        |  FROM cw GROUP BY 1, 2
        |),
        |pw AS (
        |  SELECT event_type,
        |         CAST(A * A + B * B AS DOUBLE) * 4.0
        |           / (CAST(np AS DOUBLE) * np * np * np) / 1e18 AS p
        |  FROM a
        |),
        |e AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_periods,
        |         sum(p) AS tot, max(p) AS mx,
        |         sum(CASE WHEN p > 0 THEN p * ln(p) ELSE 0.0 END) AS plp
        |  FROM pw GROUP BY 1
        |)
        |SELECT event_type, n_periods,
        |       round(CASE WHEN tot > 0 THEN mx / tot END, 4) AS peak_share,
        |       round(CASE WHEN tot > 0 AND n_periods >= 2 THEN
        |         -(plp / tot - ln(tot)) / ln(CAST(n_periods AS DOUBLE)) END, 4)
        |         AS spectral_entropy
        |FROM e ORDER BY event_type""".stripMargin,
    // Runs-test replay: exact doubled-median cut, equal-to-median
    // days excluded, lag-pass run count, textbook null moments.
    "q378_runs_test" ->
      s"""WITH daily AS MATERIALIZED (
        |${DailyCountsSql("cnt")}
        |),
        |med AS (
        |  SELECT event_type,
        |         CAST(round(quantile_cont(cnt * 2, 0.5)) AS BIGINT) AS m2
        |  FROM daily GROUP BY 1
        |),
        |sgn AS (
        |  SELECT d.event_type, d.day, (d.cnt * 2 > m.m2) AS sg
        |  FROM daily d JOIN med m USING (event_type)
        |  WHERE d.cnt * 2 <> m.m2
        |),
        |runs AS (
        |  SELECT event_type, day, sg,
        |         lag(sg) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM sgn
        |),
        |g AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN sg THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |         CAST(sum(CASE WHEN sg THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev <> sg THEN 1 ELSE 0 END)
        |           AS BIGINT) AS runs
        |  FROM runs GROUP BY 1
        |)
        |SELECT event_type, n_above, n_below, runs,
        |       round((CAST(runs AS DOUBLE)
        |              - (2.0 * n_above * n_below / (n_above + n_below) + 1.0)) /
        |             CASE WHEN n_above = 0 OR n_below = 0 OR
        |               (2.0 * n_above * n_below)
        |               * (2.0 * n_above * n_below - (n_above + n_below)) /
        |               (CAST(n_above + n_below AS DOUBLE) * (n_above + n_below)
        |                * (n_above + n_below - 1)) <= 0 THEN NULL
        |             ELSE sqrt((2.0 * n_above * n_below)
        |               * (2.0 * n_above * n_below - (n_above + n_below)) /
        |               (CAST(n_above + n_below AS DOUBLE) * (n_above + n_below)
        |                * (n_above + n_below - 1))) END, 4) AS z
        |FROM g ORDER BY event_type""".stripMargin,
    // Theta replay: integer-ordinal OLS in HUGEINT, micro-unit
    // coefficients via floor(x+0.5), the theta-2 micro series folded
    // by the q272 list_reduce (element 1 seeds), integer-grain
    // publishes.
    "q393_theta_forecast" ->
      s"""WITH s AS (
        |${DailyCountsSql("y")}
        |),
        |b AS MATERIALIZED (
        |  SELECT event_type, y,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |           AS BIGINT) AS t
        |  FROM s
        |),
        |mom AS MATERIALIZED (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
        |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
        |         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt
        |  FROM b GROUP BY 1 HAVING count(*) >= 3
        |),
        |co AS (
        |  SELECT event_type, n, st, sy,
        |         CAST(floor(CAST((sty * n - st * sy) * 1000000 AS DOUBLE)
        |              / CAST(stt * n - st * st AS DOUBLE) + 0.5) AS BIGINT) AS bu
        |  FROM mom
        |),
        |co2 AS MATERIALIZED (
        |  SELECT event_type, n, bu,
        |         CAST(floor(CAST(sy * 1000000 - st * bu AS DOUBLE) / n + 0.5)
        |           AS BIGINT) AS au
        |  FROM co
        |),
        |th AS (
        |  SELECT b.event_type, c.n, c.au, c.bu,
        |         list(2000000 * b.y - (c.au + c.bu * b.t) ORDER BY b.t) AS ps
        |  FROM b JOIN co2 c USING (event_type)
        |  GROUP BY 1, 2, 3, 4
        |),
        |f AS (
        |  SELECT event_type, n, au, bu,
        |         list_reduce(ps,
        |           (a, u) -> CAST(floor((u + a) / 2.0) AS BIGINT)) AS l
        |  FROM th
        |)
        |SELECT event_type, n,
        |       CAST(round(CAST(bu AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS trend_slope,
        |       CAST(round(CAST(l AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS ses_level,
        |       CAST(round(CAST(l + au + bu * (n + 1) AS DOUBLE) / 200.0)
        |            AS BIGINT) / 10000.0 AS forecast_next
        |FROM f ORDER BY event_type""".stripMargin,
    // DF replay: per-key lag pairs, exact HUGEINT moments, the
    // multiply-through centered sums, one pinned tau chain.
    "q402_dickey_fuller" ->
      s"""WITH s AS (
        |${DailyCountsSql("y")}
        |),
        |b AS (
        |  SELECT event_type, y,
        |         lag(y) OVER (PARTITION BY event_type ORDER BY day) AS z
        |  FROM s
        |),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
        |         CAST(sum(CAST(y - z AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(z AS HUGEINT) * (y - z)) AS HUGEINT) AS szy,
        |         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
        |         CAST(sum(CAST(y - z AS HUGEINT) * (y - z)) AS HUGEINT) AS syy
        |  FROM b WHERE z IS NOT NULL GROUP BY 1
        |),
        |c AS (
        |  SELECT event_type, m,
        |         szz * m - sz * sz AS czz,
        |         szy * m - sz * sy AS czy,
        |         syy * m - sy * sy AS cyy
        |  FROM m
        |)
        |SELECT event_type, m + 1 AS n,
        |       round(CASE WHEN czz > 0
        |             THEN CAST(czy AS DOUBLE) / CAST(czz AS DOUBLE) END, 4)
        |         AS gamma,
        |       round(CASE WHEN czz > 0 AND m >= 3
        |                  AND CAST(cyy AS DOUBLE)
        |                      - CAST(czy AS DOUBLE) * CAST(czy AS DOUBLE)
        |                        / CAST(czz AS DOUBLE) > 0 THEN
        |             (CAST(czy AS DOUBLE) / CAST(czz AS DOUBLE)) /
        |             sqrt((CAST(cyy AS DOUBLE)
        |                   - CAST(czy AS DOUBLE) * CAST(czy AS DOUBLE)
        |                     / CAST(czz AS DOUBLE)) /
        |                  ((CAST(m AS DOUBLE) - 2.0) * CAST(czz AS DOUBLE)))
        |             END, 4) AS tau
        |FROM c ORDER BY event_type""".stripMargin,
    // Hurst replay: 0-based ordinals, complete dyadic blocks,
    // multiply-through demeaned partial sums in HUGEINT, per-block
    // R/S at 6dp, size means at 4dp, the collapsed ln-ln slope.
    "q394_hurst" ->
      s"""WITH s AS MATERIALIZED (
        |${DailyCountsSql("y")}
        |),
        |b AS (
        |  SELECT event_type, y,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
        |           AS BIGINT) AS t
        |  FROM s
        |),
        |e AS MATERIALIZED (
        |  SELECT event_type, y, t, m, t // m AS blk
        |  FROM b CROSS JOIN (SELECT unnest([4, 8, 16]) AS m)
        |),
        |ful AS (
        |  SELECT event_type, m, blk, CAST(sum(y) AS HUGEINT) AS sb
        |  FROM e GROUP BY 1, 2, 3 HAVING count(*) = m
        |),
        |pp AS (
        |  SELECT e.event_type, e.m, e.blk,
        |         CAST(e.y AS HUGEINT) * e.m - f.sb AS ee,
        |         sum(CAST(e.y AS HUGEINT) * e.m - f.sb)
        |           OVER (PARTITION BY e.event_type, e.m, e.blk ORDER BY e.t
        |                 ROWS UNBOUNDED PRECEDING) AS p
        |  FROM e JOIN ful f USING (event_type, m, blk)
        |),
        |ba AS (
        |  SELECT event_type, m, blk, max(p) AS mx, min(p) AS mn,
        |         sum(ee * ee) AS se
        |  FROM pp GROUP BY 1, 2, 3
        |),
        |rs AS (
        |  SELECT event_type, m,
        |         round(CAST(mx - mn AS DOUBLE) * sqrt(CAST(m AS DOUBLE))
        |               / sqrt(CAST(se AS DOUBLE)), 6) AS rsv
        |  FROM ba WHERE se > 0
        |),
        |ms AS (
        |  SELECT event_type, m, round(sum(rsv) / count(*), 4) AS rsm
        |  FROM rs GROUP BY 1, 2
        |),
        |pv AS (
        |  SELECT event_type,
        |         max(CASE WHEN m = 4 THEN rsm END) AS rs4,
        |         max(CASE WHEN m = 8 THEN rsm END) AS rs8,
        |         max(CASE WHEN m = 16 THEN rsm END) AS rs16
        |  FROM ms GROUP BY 1
        |),
        |nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1)
        |SELECT nt.event_type, nt.n, pv.rs4, pv.rs8, pv.rs16,
        |       round(CASE WHEN pv.rs4 > 0 AND pv.rs8 IS NOT NULL AND pv.rs16 > 0
        |             THEN (ln(pv.rs16) - ln(pv.rs4)) / (2.0 * ln(2.0)) END, 4)
        |         AS hurst
        |FROM nt LEFT JOIN pv USING (event_type)
        |ORDER BY event_type""".stripMargin,
  )
}
