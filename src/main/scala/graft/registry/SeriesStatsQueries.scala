package graft

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — round-16 continuation batch 3: keyed-series
  * screens (randomness, efficiency, drawdown, breaks, seasonal trend,
  * PACF, cointegration) and distribution-shape / agreement inference
  * (Kuiper, Jarque–Bera, Brunner–Munzel, Lepage, Quade, Fleiss, ICC,
  * concordance, Hodges–Lehmann, Theil's U). New shard because
  * StatsInferenceQueries sits at the 3k-line hygiene cap.
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object SeriesStatsQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q406_kuiper" -> ((s, dir) => {
      // F123 Kuiper two-sample click vs view: D⁺ + D⁻ — the
      // both-directions / tail-fair companion to q192's one-sup KS,
      // same integer cross-multiplied CDF frame
      val t = Tables(s, dir)
      Rollups.kuiperTest(t.events, "event_type", "value", "click", "view")
    }),
    "q407_jarque_bera" -> ((s, dir) => {
      // F115 normality screen per event type: JB = n/6(S² + K²/4)
      // from exact decimal central-moment multiply-throughs — the
      // shape gate upstream of every t/z test in the family
      val t = Tables(s, dir)
      Rollups.jarqueBera(t.events, "event_type", "value")
        .orderBy("event_type")
    }),
    "q408_drawdown" -> ((s, dir) => {
      // D43 max drawdown of the daily demeaned-value equity curve per
      // event type (flow = Σ(100·value − 50) cents, so the curve
      // oscillates): depth, trough day, peak, relative depth — all
      // exact integers on one cumulative window
      val t = Tables(s, dir)
      val daily = t.events.filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          dayOf.as("day"))
        .agg(sum(round(col("value") * 100).cast("long") - 50L).as("flow"))
      Rollups.maxDrawdown(daily, Seq("event_type"), "day", "flow")
        .orderBy("event_type")
    }),
    "q409_variance_ratio" -> ((s, dir) => {
      // D42 Lo–MacKinlay VR(5) on the daily event-count series per
      // type: random-walk efficiency at the week horizon — the "how
      // much mean reversion" companion to q383's DF unit-root τ
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.varianceRatio(daily, Seq("event_type"), "day", "cnt", q = 5)
        .orderBy("event_type")
    }),
    "q410_bartels" -> ((s, dir) => {
      // D41 Bartels rank von Neumann on the daily event-count series
      // per type: the rank-based randomness gate (E[RVN]=2) — D17's
      // Durbin–Watson geometry, robust to the level's distribution
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.bartelsRank(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    "q411_by_fdr" -> ((s, dir) => {
      // F114 Benjamini–Yekutieli over q19's correlation p-values: the
      // arbitrary-dependence FDR (correlated hypotheses are exactly
      // what pairwise peak-year correlations are) — q178's BH step-up
      // inflated by the ordered-fold harmonic c(m)
      val t = Tables(s, dir)
      Rollups.byAdjust(
        Rollups.peakYearCorrelation(AssociationScore.byDatasource(t.evidence)),
        "p_value", Seq("datasourceIdA", "datasourceIdB"))
    }),
    "q412_agreement" -> ((s, dir) => {
      // F120 method-comparison bundle on daily click vs view counts:
      // Pearson r ("do they co-vary"), Lin's CCC ("do they agree on
      // the 45° line"), Bland–Altman bias ± 1.96·SD limits ("where
      // does the disagreement live") — the report q405's Deming slope
      // is read next to
      val t = Tables(s, dir)
      val daily = dailyClickView(t.events)
      Rollups.concordanceAgreement(daily, "x", "y")
    }),
    "q413_hodges_lehmann" -> ((s, dir) => {
      // F124 robust shift estimate click vs view: median of all n1·n2
      // pairwise differences WITHOUT materializing them — the
      // value-grain weighted cross + exact cumulative median
      val t = Tables(s, dir)
      Rollups.hodgesLehmann(t.events, "event_type", "value", "click", "view")
    }),
    "q414_theil_u" -> ((s, dir) => {
      // F118 uncertainty coefficient U(lang|source): the ASYMMETRIC
      // normalized dependence q175's MI and q182's V can't answer —
      // how much of lang's entropy does knowing source remove
      val t = Tables(s, dir)
      Rollups.theilU(t.documents, "lang", "source")
    }),
    "q415_brunner_munzel" -> ((s, dir) => {
      // F112 rank-based Behrens–Fisher click vs view: q199's
      // Mann–Whitney without its hidden equal-variance assumption,
      // studentized by each group's own placement variance — plus the
      // stochastic-superiority estimate p̂ itself
      val t = Tables(s, dir)
      Rollups.brunnerMunzel(t.events, "event_type", "value", "click", "view")
    }),
    "q416_lepage" -> ((s, dir) => {
      // F113 Ansari–Bradley scale z + Lepage L = z_W² + z_AB²: the
      // distribution-free member of the variance-homogeneity family
      // (q373/q374/q398) and the one-number location+scale screen
      val t = Tables(s, dir)
      Rollups.ansariLepage(t.events, "event_type", "value", "click", "view")
    }),
    "q417_quade" -> ((s, dir) => {
      // F116 Quade test: blocks = days, treatments = event types,
      // y = daily count — within-block ranks weighted by the rank of
      // the block's RANGE, the higher-power Friedman at small k
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(dayOf.as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      Rollups.quade(daily, "day", "event_type", "cnt")
    }),
    "q418_seasonal_mk" -> ((s, dir) => {
      // D45 seasonal Mann–Kendall on the daily event-count series per
      // type (period 7): like-weekday-only comparisons remove the
      // weekly cycle without estimating it — the trend gate after
      // q143's seasonal index says the cycle exists
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.seasonalMannKendall(daily, Seq("event_type"), "day", "cnt",
        period = 7)
        .orderBy("event_type")
    }),
    "q419_chow" -> ((s, dir) => {
      // D44 Chow structural break at the series midpoint on the daily
      // event-count trend per type: did the regime shift — the known-
      // break F companion to q196's changepoint SCAN
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.chowTest(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    "q420_pacf" -> ((s, dir) => {
      // D46 PACF φ₁₁..φ₃₃ per daily event-count series: the AR-order
      // fingerprint via closed-form Durbin–Levinson on q228's exact
      // one-mean ACF ratios — where does the direct correlation cut
      val t = Tables(s, dir)
      val daily = dailyCounts(t.events, "cnt")
      Rollups.pacf(daily, Seq("event_type"), "day", "cnt")
        .orderBy("event_type")
    }),
    "q421_coint" -> ((s, dir) => {
      // D47 Engle–Granger screen on daily click vs view counts: OLS
      // spread + q402's DF τ on the SCALED-EXACT residual — do the
      // two series share one stochastic trend (correlation can't say)
      val t = Tables(s, dir)
      val daily = dailyClickView(t.events)
      Rollups.engleGranger(daily, "day", "x", "y")
    }),
    "q422_hosmer_lemeshow" -> ((s, dir) => {
      // F119 HL calibration χ² on q183's reliability frame (quality
      // deciles × Gopher pass): are the calibration gaps larger than
      // chance — the significance gate q262's ECE stops short of
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.hosmerLemeshow(scored, "quality", "gopher_pass")
    }),
    "q423_fleiss_kappa" -> ((s, dir) => {
      // F121 Fleiss' kappa over a deterministic 3-annotator panel
      // (length-bucket base ± md5 jitter per rater): the
      // multi-annotator QA number q256's two-rater kappa can't cover
      val t = Tables(s, dir)
      Rollups.fleissKappa(raterFrame(t.documents), "doc_id", "cat",
        raters = 3)
    }),
    "q424_icc" -> ((s, dir) => {
      // F122 ICC(1,1) on the same 3-rater ordinal scores: what share
      // of rating variance is real document signal vs rater noise —
      // the continuous companion to q423's categorical agreement
      val t = Tables(s, dir)
      Rollups.iccOneWay(raterFrame(t.documents), "doc_id", "cat", k = 3)
    }),
    "q425_ordinal_assoc" -> ((s, dir) => {
      // F117 gamma + both Somers' D over (length bucket, token
      // bucket): DIRECTIONAL ordinal dependence — d_yx ≠ d_xy exactly
      // when tie structure is asymmetric, which q182's V and q291's
      // τ-b both erase
      val t = Tables(s, dir)
      val buckets = t.documents.select(
        least(expr("n_chars div 1000"), lit(5L)).as("xb"),
        least(expr("(length(text) - length(replace(text, ' ', '')) + 1) div 150"),
          lit(5L)).as("yb"))
      Rollups.ordinalAssoc(buckets, "xb", "yb")
    }),
    "q426_partition_advisor" -> ((s, dir) => {
      // I41 partition-layout advisor over documents: lang / source /
      // lang+source as hive-partition candidates — fan-out, exact
      // milli-skew, payload byte spread, small-partition count, and
      // the go/no-go verdict, all off ONE corpus scan
      val t = Tables(s, dir)
      Layout.partitionAdvisor(t.documents,
        Seq(Seq("lang"), Seq("source"), Seq("lang", "source")),
        col("n_chars"))
        .orderBy("candidate")
    }),
    "q427_hits" -> ((s, dir) => {
      // G123 HITS over the id-oriented MinHash near-dup graph: hubs =
      // canonical early documents fanning out, authorities = heavily
      // duplicated derivatives — the directional complement q108's
      // PageRank mixes into one score; integer ppm mass, 8 rounds
      val t = Tables(s, dir)
      val pairs = Dedup.minhashLshPairs(t.documents)
      Graph.hits(pairs.select(col("idA").as("src"), col("idB").as("dst")))
        .orderBy("id")
    }),
    "q428_otsu" -> ((s, dir) => {
      // G124 Otsu threshold per image (REAL BMP decode → gray
      // histogram rows): maximize between-class variance via the
      // exact-integer scaled score (S·w0 − s0·W)²·1024 div
      // (w0(W−w0)), earliest-gray tie-break — the foreground/
      // document-vs-photo screen beside q396's entropy
      val t = Tables(s, dir)
      val h = Multimodal.imageGrayHistogram(Multimodal.textToBmp(t.documents))
        .toDF()
      val wCum = Window.partitionBy("doc_id").orderBy("gray")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("doc_id")
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      h.withColumn("__w0", sum("cnt").over(wCum))
        .withColumn("__s0", sum(col("gray") * col("cnt")).over(wCum))
        .withColumn("__sg", sum(col("gray") * col("cnt")).over(wAll))
        .withColumn("__wp", (col("width") * col("height")).cast("long"))
        .filter(col("__w0") < col("__wp"))
        .withColumn("__num",
          col("__sg") * col("__w0") - col("__s0") * col("__wp"))
        .withColumn("__score",
          expr("(__num * __num * 1024) div (__w0 * (__wp - __w0))"))
        .groupBy("doc_id")
        .agg(max("width").as("width"), max("height").as("height"),
          max("__wp").as("__w"),
          max(struct(col("__score"), (-col("gray")).as("__ng"),
            col("__w0"))).as("__am"))
        .select(col("doc_id"), col("width"), col("height"),
          (-col("__am.__ng")).cast("int").as("threshold"),
          (col("__w") - col("__am.__w0")).as("fg_px"),
          round(d(col("__w") - col("__am.__w0")) / d(col("__w")), 4)
            .as("fg_ratio"))
    }),
    "q429_colorfulness" -> ((s, dir) => {
      // G125 Hasler–Süsstrunk colorfulness per image: σ and μ of the
      // opponent channels rg = R−G, yb = (R+G)/2 − B (carried
      // DOUBLED), C = √(σ²_rg+σ²_yb) + 0.3·√(μ²_rg+μ²_yb) — the
      // screenshot/graphic vs natural-photo triage; exact long
      // moments inside the decoder, one pinned chain
      val t = Tables(s, dir)
      val m = Multimodal.imageColorMoments(Multimodal.textToBmp(t.documents))
        .toDF()
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val vrg = d(col("n_px") * col("s_rg2") - col("s_rg") * col("s_rg")) /
        (d(col("n_px")) * d(col("n_px")))
      val vyb = d(col("n_px") * col("s_yb22") - col("s_yb2") * col("s_yb2")) /
        (lit(4.0) * d(col("n_px")) * d(col("n_px")))
      val mrg = d(col("s_rg")) / d(col("n_px"))
      val myb = d(col("s_yb2")) / (lit(2.0) * d(col("n_px")))
      m.select(col("doc_id"), col("n_px"),
        round(sqrt(vrg + vyb) + lit(0.3) * sqrt(mrg * mrg + myb * myb), 4)
          .as("colorfulness"))
    }),
    "q430_cdc_chunks" -> ((s, dir) => {
      // G122 content-defined chunking dedup per source: rolling
      // 31-polynomial boundaries (cut ≡ 0 mod 64), chunk identity =
      // md5 of the exact substring — the byte-savings ceiling a
      // dedup store could reclaim, immune to the boundary shift that
      // re-phases fixed-width blocks
      val t = Tables(s, dir)
      Dedup.cdcChunks(t.documents).orderBy("source")
    }))

  /** Deterministic 3-annotator panel over documents: category =
    * clamp(length-bucket ± md5 jitter, 0..3) per rater — the q423/
    * q424 shared frame (mirrored verbatim in both oracles).
    */
  private def raterFrame(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), col("n_chars"))
    .withColumn("r", explode(array(lit(1), lit(2), lit(3))))
    .withColumn("__h",
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":fk:"),
        col("r").cast("string"))), 1, 6), 16, 10).cast("long") % 3)
    .withColumn("cat",
      greatest(lit(0L), least(lit(3L),
        least(expr("n_chars div 800"), lit(3L)) + (col("__h") - 1L))))

  val oracles: Seq[(String, String)] = Seq(
    // Kuiper replay: the q192 CDF frame with signed max in each
    // direction (greatest with 0 — all-below samples have D⁺ = 0).
    "q406_kuiper" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
        |         sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
        |  FROM p
        |),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM p),
        |m AS (
        |  SELECT t.n1, t.n2,
        |         greatest(CAST(max(f1 * t.n2 - f2 * t.n1) AS BIGINT), 0) AS dp,
        |         greatest(CAST(max(f2 * t.n1 - f1 * t.n2) AS BIGINT), 0) AS dm
        |  FROM c CROSS JOIN t GROUP BY t.n1, t.n2
        |)
        |SELECT n1, n2,
        |       round(CAST(dp AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 4) AS d_plus,
        |       round(CAST(dm AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 4) AS d_minus,
        |       round(CAST(dp + dm AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 4) AS v
        |FROM m""".stripMargin,
    // JB replay: identical exact HUGEINT moment multiply-throughs
    // (M2/M3/M4), identical pinned S/K/JB chain.
    "q407_jarque_bera" ->
      """WITH b AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
        |         CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
        |         CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
        |  FROM b GROUP BY 1
        |),
        |cm AS (
        |  SELECT event_type, n,
        |         n * s2 - s1 * s1 AS m2,
        |         n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3,
        |         n * n * n * s4 - 4 * n * n * s1 * s3
        |           + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4
        |  FROM m
        |),
        |sk AS (
        |  SELECT event_type, n,
        |         CASE WHEN m2 > 0 THEN CAST(m3 AS DOUBLE)
        |           / (CAST(m2 AS DOUBLE) * sqrt(CAST(m2 AS DOUBLE))) END AS s,
        |         CASE WHEN m2 > 0 THEN CAST(m4 AS DOUBLE)
        |           / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) - 3.0 END AS k
        |  FROM cm
        |)
        |SELECT event_type, n, round(s, 4) AS skew, round(k, 4) AS ex_kurt,
        |       round(CAST(n AS DOUBLE) / 6.0 * (s * s + k * k / 4.0), 4) AS jb
        |FROM sk ORDER BY event_type""".stripMargin,
    // Drawdown replay: same cumulative/peak windows; the argmax
    // trough via ORDER BY (dd DESC, day ASC) row_number = the struct
    // max (dd, −t, peak) on the Spark side.
    "q408_drawdown" ->
      s"""WITH daily AS (
        |  SELECT event_type, $DaySql AS day,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT) - 50) AS BIGINT) AS flow
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |),
        |c AS (
        |  SELECT event_type, day,
        |         sum(flow) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM daily
        |),
        |p AS (
        |  SELECT event_type, day, cum,
        |         max(cum) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM c
        |),
        |r AS (
        |  SELECT event_type, day, cum, peak, peak - cum AS dd,
        |         row_number() OVER (PARTITION BY event_type
        |               ORDER BY peak - cum DESC, day ASC) AS rk,
        |         row_number() OVER (PARTITION BY event_type
        |               ORDER BY day DESC) AS rlast
        |  FROM p
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(CASE WHEN rlast = 1 THEN cum END) AS BIGINT)
        |         AS final_level,
        |       CAST(max(dd) AS BIGINT) AS max_dd,
        |       CAST(max(CASE WHEN rk = 1 THEN peak END) AS BIGINT)
        |         AS peak_at_trough,
        |       CAST(max(CASE WHEN rk = 1 THEN day END) AS BIGINT) AS trough_t,
        |       round(CASE WHEN max(CASE WHEN rk = 1 THEN peak END) > 0 THEN
        |         CAST(max(dd) AS DOUBLE)
        |           / max(CASE WHEN rk = 1 THEN peak END) END, 4) AS dd_frac
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,
    // VR replay: both diff families by time arithmetic (self-joins on
    // day−1 / day−5), exact HUGEINT multiply-through variances, one
    // pinned ratio + iid-null z.
    "q409_variance_ratio" ->
      s"""WITH daily AS MATERIALIZED (
        |${DailyCountsSql("cnt")}
        |),
        |d1 AS (
        |  SELECT a.event_type, CAST(count(*) AS BIGINT) AS m1,
        |         CAST(sum(CAST(a.cnt - b.cnt AS HUGEINT)) AS HUGEINT) AS s1,
        |         CAST(sum(CAST(a.cnt - b.cnt AS HUGEINT)
        |               * (a.cnt - b.cnt)) AS HUGEINT) AS ss1
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.day = a.day - 1
        |  GROUP BY 1
        |),
        |dq AS (
        |  SELECT a.event_type, CAST(count(*) AS BIGINT) AS mq,
        |         CAST(sum(CAST(a.cnt - b.cnt AS HUGEINT)) AS HUGEINT) AS sq,
        |         CAST(sum(CAST(a.cnt - b.cnt AS HUGEINT)
        |               * (a.cnt - b.cnt)) AS HUGEINT) AS ssq
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.day = a.day - 5
        |  GROUP BY 1
        |),
        |v AS (
        |  SELECT d1.event_type, m1, mq,
        |         m1 * ss1 - s1 * s1 AS v1,
        |         mq * ssq - sq * sq AS vq
        |  FROM d1 JOIN dq USING (event_type)
        |),
        |r AS (
        |  SELECT event_type, m1, mq,
        |         CASE WHEN v1 > 0 AND mq > 1 THEN
        |           CAST(vq * m1 * m1 AS DOUBLE)
        |             / (5.0 * CAST(v1 * mq * mq AS DOUBLE)) END AS vr
        |  FROM v
        |)
        |SELECT event_type, m1 AS n1, mq AS nq, round(vr, 4) AS vr,
        |       round((vr - 1.0) / sqrt((2.0 * 9 * 4 / 15.0)
        |             / CAST(m1 AS DOUBLE)), 4) AS z
        |FROM r ORDER BY event_type""".stripMargin,
    // Bartels replay: doubled midranks (2·rank + ties − 1), successor
    // by day order, denominator collapse ΣR2² − n(n+1)².
    "q410_bartels" ->
      s"""WITH daily AS (
        |${DailyCountsSql("cnt")}
        |),
        |rk AS (
        |  SELECT event_type, day, cnt,
        |         2 * rank() OVER (PARTITION BY event_type ORDER BY cnt)
        |           + count(*) OVER (PARTITION BY event_type, cnt) - 1 AS r2
        |  FROM daily
        |),
        |nx AS (
        |  SELECT event_type, r2,
        |         lead(r2) OVER (PARTITION BY event_type ORDER BY day) AS r2n
        |  FROM rk
        |),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS ss,
        |         CAST(sum(CASE WHEN r2n IS NOT NULL THEN
        |               CAST(r2 - r2n AS HUGEINT) * (r2 - r2n)
        |               ELSE 0 END) AS HUGEINT) AS sd
        |  FROM nx GROUP BY 1
        |),
        |rv AS (
        |  SELECT event_type, n,
        |         CASE WHEN ss - n * (n + 1) * (n + 1) > 0 THEN
        |           CAST(sd AS DOUBLE)
        |             / CAST(ss - n * (n + 1) * (n + 1) AS DOUBLE) END AS rvn
        |  FROM agg
        |)
        |SELECT event_type, n, round(rvn, 4) AS rvn,
        |       round(CASE WHEN n > 2 THEN (rvn - 2.0)
        |         / sqrt(4.0 * (n - 2) / (CAST(n + 1 AS DOUBLE) * (n - 1))) END,
        |         4) AS z
        |FROM rv ORDER BY event_type""".stripMargin,
    // BY replay: q178's chain with the ordered-fold harmonic c(m)
    // (list_reduce seeds on the first element; 0.0 + x = x exactly on
    // the Spark side, so both engines walk identical partial sums).
    "q411_by_fdr" ->
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
         |cm AS (
         |  SELECT rk.*, list_reduce(list_transform(range(1, m + 1),
         |           x -> 1.0 / CAST(x AS DOUBLE)), (a, b) -> a + b) AS c_m
         |  FROM rk
         |),
         |adj AS (
         |  SELECT *, round(least(1.0, min(p_value * m * c_m / p_rank) OVER (
         |           ORDER BY p_rank
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 4)
         |           AS p_adj
         |  FROM cm
         |)
         |SELECT datasourceIdA, datasourceIdB, n, r, p_value, p_rank, p_adj,
         |       p_adj <= 0.05 AS significant
         |FROM adj""".stripMargin,
    // Agreement replay: exact HUGEINT moments, n²-scaled centered
    // sums (CCC terms share the scale so (Sy−Sx)² joins unscaled),
    // identical pinned r/CCC/bias/SD/limits chain.
    "q412_agreement" ->
      s"""WITH $ClickViewMomentsSql,
        |c AS (
        |  SELECT n, sx, sy,
        |         n * sxx - sx * sx AS cxx,
        |         n * syy - sy * sy AS cyy,
        |         n * sxy - sx * sy AS cxy,
        |         sy - sx AS dd,
        |         n * (syy - 2 * sxy + sxx) - (sy - sx) * (sy - sx) AS sdn
        |  FROM m
        |),
        |s AS (
        |  SELECT n, cxx, cyy, cxy, dd,
        |         CASE WHEN n > 1 THEN sqrt(CAST(sdn AS DOUBLE)
        |           / (CAST(n AS DOUBLE) * (n - 1))) END AS sd2,
        |         CAST(dd AS DOUBLE) / n AS bias
        |  FROM c
        |)
        |SELECT n,
        |       round(CASE WHEN cxx > 0 AND cyy > 0 THEN CAST(cxy AS DOUBLE)
        |             / sqrt(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)) END, 4)
        |         AS r,
        |       round(CASE WHEN cxx + cyy > 0 OR dd <> 0 THEN
        |             2.0 * CAST(cxy AS DOUBLE)
        |             / (CAST(cxx AS DOUBLE) + CAST(cyy AS DOUBLE)
        |                + CAST(dd * dd AS DOUBLE)) END, 4) AS ccc,
        |       round(bias, 4) AS bias,
        |       round(sd2, 4) AS sd_diff,
        |       round(bias - 1.96 * sd2, 4) AS loa_lo,
        |       round(bias + 1.96 * sd2, 4) AS loa_hi
        |FROM s""".stripMargin,
    // HL replay: the same value-grain weighted cross; exact HUGEINT
    // cumulative weights; doubled straddle median, one /200 publish.
    "q413_hodges_lehmann" ->
      s"""WITH p AS MATERIALIZED (
        |$TwoGroupGrainSql
        |),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM p),
        |d AS (
        |  SELECT b.v - a.v AS dd,
        |         CAST(sum(CAST(a.c1 AS HUGEINT) * b.c2) AS HUGEINT) AS wt
        |  FROM p a JOIN p b ON a.c1 > 0 AND b.c2 > 0
        |  GROUP BY 1
        |),
        |c AS (
        |  SELECT dd, sum(wt) OVER (ORDER BY dd ROWS UNBOUNDED PRECEDING) AS cum,
        |         t.n1, t.n2, CAST(t.n1 AS HUGEINT) * t.n2 AS tt
        |  FROM d CROSS JOIN t
        |),
        |lo AS (SELECT min(dd) AS dlo FROM c WHERE cum * 2 >= tt),
        |hi AS (SELECT min(dd) AS dhi FROM c WHERE cum * 2 >= tt + 1)
        |SELECT t.n1, t.n2,
        |       round((CAST(lo.dlo AS DOUBLE) + hi.dhi) / 200.0, 4) AS hl
        |FROM t CROSS JOIN lo CROSS JOIN hi""".stripMargin,
    // Theil U replay: pico-unit floor(x·1e12+0.5) entropy terms
    // summed order-free (the q396 contract); marginal rows flagged by
    // the same row_number-over-(x order y) rule.
    "q414_theil_u" ->
      """WITH cells AS (
        |  SELECT lang AS x, source AS y, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2
        |),
        |e AS (
        |  SELECT x, y, c,
        |         CAST(sum(c) OVER () AS BIGINT) AS n,
        |         CAST(sum(c) OVER (PARTITION BY y) AS BIGINT) AS cy,
        |         CAST(sum(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
        |         row_number() OVER (PARTITION BY x ORDER BY y) AS rn
        |  FROM cells
        |),
        |sc AS (
        |  SELECT n,
        |         CAST(floor(CAST(c AS DOUBLE) / n
        |               * ln(CAST(c AS DOUBLE) / cy) * 1e12 + 0.5) AS BIGINT)
        |           AS hxyp,
        |         CASE WHEN rn = 1 THEN
        |           CAST(floor(CAST(cx AS DOUBLE) / n
        |                 * ln(CAST(cx AS DOUBLE) / n) * 1e12 + 0.5) AS BIGINT)
        |           ELSE 0 END AS hxp
        |  FROM e
        |),
        |agg AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n,
        |         -sum(hxp) AS hx, -sum(hxyp) AS hxy
        |  FROM sc
        |)
        |SELECT n, round(CAST(hx AS DOUBLE) / 1e12, 4) AS h_x,
        |       round(CAST(hxy AS DOUBLE) / 1e12, 4) AS h_x_given_y,
        |       round(CASE WHEN hx > 0 THEN CAST(hx - hxy AS DOUBLE) / hx END, 4)
        |         AS u
        |FROM agg""".stripMargin,
    // BM replay: identical doubled pooled/within midranks, exact
    // HUGEINT placement moments, the same pinned p̂/S²/W chains.
    "q415_brunner_munzel" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |c AS (
        |  SELECT c1, c2,
        |         sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c1 AS f1p,
        |         sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c2 AS f2p
        |  FROM p
        |),
        |q AS (SELECT c1, c2, 2 * f2p + c2 AS qa, 2 * f1p + c1 AS qb FROM c),
        |ab AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(CAST(c1 AS HUGEINT) * qa) AS HUGEINT) AS sqa,
        |         CAST(sum(CAST(c1 AS HUGEINT) * qa * qa) AS HUGEINT) AS sqqa,
        |         CAST(sum(CAST(c2 AS HUGEINT) * qb) AS HUGEINT) AS sqb,
        |         CAST(sum(CAST(c2 AS HUGEINT) * qb * qb) AS HUGEINT) AS sqqb
        |  FROM q
        |),
        |s AS (
        |  SELECT n1, n2, sqa, sqb,
        |         CASE WHEN n1 > 1 THEN CAST(n1 * sqqa - sqa * sqa AS DOUBLE)
        |           / (4.0 * CAST(n1 AS DOUBLE) * (n1 - 1)) END AS s2a,
        |         CASE WHEN n2 > 1 THEN CAST(n2 * sqqb - sqb * sqb AS DOUBLE)
        |           / (4.0 * CAST(n2 AS DOUBLE) * (n2 - 1)) END AS s2b
        |  FROM ab
        |),
        |m AS (
        |  SELECT n1, n2, sqb,
        |         CAST(sqb AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
        |           - CAST(sqa AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE))
        |           + CAST(n2 - n1 AS DOUBLE) / 2.0 AS md,
        |         sqrt(CAST(n1 AS DOUBLE) * s2a + CAST(n2 AS DOUBLE) * s2b)
        |           AS den
        |  FROM s
        |)
        |SELECT n1, n2,
        |       round(CAST(sqb AS DOUBLE)
        |             / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 4)
        |         AS p_hat,
        |       round(CASE WHEN den > 0 THEN
        |             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * md
        |             / (CAST(n1 + n2 AS DOUBLE) * den) END, 4) AS w_bm
        |FROM m""".stripMargin,
    // Lepage replay: doubled AB scores min(R2, 2(N+1)−R2),
    // conditional permutation moments of the realized score vectors,
    // two pinned z chains.
    "q416_lepage" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |t AS (SELECT CAST(sum(c1) + sum(c2) AS BIGINT) AS N FROM p),
        |c AS (
        |  SELECT c1, c2, c1 + c2 AS cc,
        |         sum(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |           - (c1 + c2) AS fp
        |  FROM p
        |),
        |sc AS (
        |  SELECT c1, c2, cc, t.N, 2 * fp + cc + 1 AS R2,
        |         least(2 * fp + cc + 1, 2 * (t.N + 1) - (2 * fp + cc + 1)) AS a2
        |  FROM c CROSS JOIN t
        |),
        |agg AS (
        |  SELECT CAST(max(N) AS BIGINT) AS N,
        |         CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2,
        |         CAST(sum(CAST(c1 AS HUGEINT) * R2) AS HUGEINT) AS tw,
        |         CAST(sum(CAST(cc AS HUGEINT) * R2) AS HUGEINT) AS sw,
        |         CAST(sum(CAST(cc AS HUGEINT) * R2 * R2) AS HUGEINT) AS sww,
        |         CAST(sum(CAST(c1 AS HUGEINT) * a2) AS HUGEINT) AS ta,
        |         CAST(sum(CAST(cc AS HUGEINT) * a2) AS HUGEINT) AS sa,
        |         CAST(sum(CAST(cc AS HUGEINT) * a2 * a2) AS HUGEINT) AS saa
        |  FROM sc
        |),
        |z AS (
        |  SELECT n1, n2,
        |         CASE WHEN n1 * n2 * (N * sww - sw * sw) > 0 THEN
        |           CAST(N * tw - n1 * sw AS DOUBLE)
        |             / sqrt(CAST(n1 * n2 * (N * sww - sw * sw) AS DOUBLE)
        |                    / CAST(N - 1 AS DOUBLE)) END AS zw,
        |         CASE WHEN n1 * n2 * (N * saa - sa * sa) > 0 THEN
        |           CAST(N * ta - n1 * sa AS DOUBLE)
        |             / sqrt(CAST(n1 * n2 * (N * saa - sa * sa) AS DOUBLE)
        |                    / CAST(N - 1 AS DOUBLE)) END AS za
        |  FROM agg
        |)
        |SELECT n1, n2, round(zw, 4) AS z_w, round(za, 4) AS z_ab,
        |       round(zw * zw + za * za, 4) AS lepage
        |FROM z""".stripMargin,
    // Quade replay: same two doubled-midrank layers (within-block
    // values, cross-block ranges), S4 = Q2·(r2−(k+1)), the 16-cancel
    // F — `full` feeds both layers so it must MATERIALIZE.
    "q417_quade" ->
      s"""WITH cell AS MATERIALIZED (
        |  SELECT $DaySql AS b,
        |         event_type AS tr, CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2
        |),
        |k AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k FROM cell),
        |fb AS (SELECT *, count(*) OVER (PARTITION BY b) AS bk FROM cell),
        |f AS MATERIALIZED (
        |  SELECT fb.b, fb.tr, fb.v, k.k FROM fb CROSS JOIN k WHERE fb.bk = k.k
        |),
        |ranked AS (
        |  SELECT b, tr,
        |         2 * rank() OVER (PARTITION BY b ORDER BY v)
        |           + count(*) OVER (PARTITION BY b, v) - 1 AS r2
        |  FROM f
        |),
        |ranges AS (
        |  SELECT b, kk, 2 * rank() OVER (ORDER BY rng)
        |           + count(*) OVER (PARTITION BY rng) - 1 AS q2
        |  FROM (SELECT b, max(v) - min(v) AS rng, max(k) AS kk
        |        FROM f GROUP BY 1)
        |),
        |s4 AS (
        |  SELECT r.tr, g.q2 * (r.r2 - (g.kk + 1)) AS s4
        |  FROM ranked r JOIN ranges g USING (b)
        |),
        |pt AS (
        |  SELECT tr, CAST(sum(CAST(s4 AS HUGEINT)) AS HUGEINT) AS sj,
        |         CAST(sum(CAST(s4 AS HUGEINT) * s4) AS HUGEINT) AS sjj,
        |         CAST(count(*) AS BIGINT) AS nb
        |  FROM s4 GROUP BY 1
        |),
        |fin AS (
        |  SELECT CAST(max(nb) AS BIGINT) AS n_blocks,
        |         CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(sj * sj) AS HUGEINT) AS bsum,
        |         CAST(sum(sjj) AS HUGEINT) AS asum
        |  FROM pt
        |)
        |SELECT n_blocks, k,
        |       round(CASE WHEN n_blocks * asum - bsum > 0 THEN
        |             CAST(n_blocks - 1 AS DOUBLE) * CAST(bsum AS DOUBLE)
        |             / CAST(n_blocks * asum - bsum AS DOUBLE) END, 4)
        |         AS f_quade
        |FROM fin""".stripMargin,
    // Seasonal MK replay: the q293 per-group pair fold run per
    // (type, weekday), S and tie-corrected variance pooled across
    // seasons, one continuity-corrected z.
    "q418_seasonal_mk" ->
      s"""WITH s AS MATERIALIZED (
        |${DailyCountsSql("y", "x")}
        |),
        |ss AS MATERIALIZED (SELECT event_type, x % 7 AS season, x, y FROM s),
        |arr AS (
        |  SELECT event_type, season,
        |         list(struct_pack(x := x, y := y) ORDER BY x) AS a,
        |         CAST(count(*) AS BIGINT) AS np
        |  FROM ss GROUP BY 1, 2
        |),
        |st AS (
        |  SELECT event_type, season, np,
        |         CAST(coalesce(list_sum(flatten(
        |           list_transform(range(1, CAST(np AS INT) + 1), i ->
        |             list_transform(range(i + 1, CAST(np AS INT) + 1), j ->
        |               CAST(sign(a[j].y - a[i].y) AS BIGINT))))), 0) AS BIGINT)
        |           AS s_stat
        |  FROM arr
        |),
        |t AS (
        |  SELECT event_type, season,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT event_type, season, y, CAST(count(*) AS BIGINT) AS t
        |        FROM ss GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |),
        |pooled AS (
        |  SELECT st.event_type,
        |         CAST(sum(st.np) AS BIGINT) AS n_points,
        |         CAST(count(*) AS BIGINT) AS n_seasons,
        |         CAST(sum(st.s_stat) AS BIGINT) AS s_stat,
        |         CAST(sum(st.np * (st.np - 1) * (2 * st.np + 5) - t.tsum)
        |              AS BIGINT) AS vn
        |  FROM st JOIN t USING (event_type, season)
        |  GROUP BY 1
        |)
        |SELECT event_type, n_points, n_seasons, s_stat,
        |       round(CAST(vn AS DOUBLE) / 18.0, 4) AS var_s,
        |       round(CASE WHEN vn <= 0 THEN NULL
        |                  ELSE (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |                             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |                             ELSE 0.0 END)
        |                       / sqrt(CAST(vn AS DOUBLE) / 18.0) END, 4) AS z
        |FROM pooled ORDER BY event_type""".stripMargin,
    // Chow replay: same midpoint break, recentered t, exact HUGEINT
    // segment moments, RSS = (Cyy·Cxx − Cxy²)/(m·Cxx) exact-integer
    // ratios, one pinned F chain.
    "q419_chow" ->
      s"""WITH daily AS MATERIALIZED (
        |${DailyCountsSql("cnt")}
        |),
        |ext AS MATERIALIZED (
        |  SELECT event_type, min(day) AS tmin, max(day) AS tmax,
        |         (min(day) + max(day)) // 2 AS tbrk
        |  FROM daily GROUP BY 1
        |),
        |seg AS (
        |  SELECT d.event_type, d.day - e.tmin AS tr, d.cnt AS y,
        |         CASE WHEN d.day <= e.tbrk THEN 1 ELSE 2 END AS s
        |  FROM daily d JOIN ext e USING (event_type)
        |),
        |ms AS (
        |  SELECT event_type, s, CAST(count(*) AS HUGEINT) AS m,
        |         CAST(sum(CAST(tr AS HUGEINT)) AS HUGEINT) AS st,
        |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(tr AS HUGEINT) * tr) AS HUGEINT) AS stt,
        |         CAST(sum(CAST(tr AS HUGEINT) * y) AS HUGEINT) AS sty,
        |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM seg GROUP BY 1, 2
        |),
        |wide AS (
        |  SELECT event_type,
        |         sum(m) AS pm, sum(st) AS pst, sum(sy) AS psy,
        |         sum(stt) AS pstt, sum(sty) AS psty, sum(syy) AS psyy,
        |         max(CASE WHEN s = 1 THEN m END) AS am,
        |         max(CASE WHEN s = 1 THEN st END) AS ast,
        |         max(CASE WHEN s = 1 THEN sy END) AS asy,
        |         max(CASE WHEN s = 1 THEN stt END) AS astt,
        |         max(CASE WHEN s = 1 THEN sty END) AS asty,
        |         max(CASE WHEN s = 1 THEN syy END) AS asyy,
        |         max(CASE WHEN s = 2 THEN m END) AS bm,
        |         max(CASE WHEN s = 2 THEN st END) AS bst,
        |         max(CASE WHEN s = 2 THEN sy END) AS bsy,
        |         max(CASE WHEN s = 2 THEN stt END) AS bstt,
        |         max(CASE WHEN s = 2 THEN sty END) AS bsty,
        |         max(CASE WHEN s = 2 THEN syy END) AS bsyy
        |  FROM ms GROUP BY 1
        |),
        |r AS (
        |  SELECT event_type, pm,
        |         CASE WHEN pm * pstt - pst * pst > 0 AND pm >= 3 THEN
        |           CAST((pm * psyy - psy * psy) * (pm * pstt - pst * pst)
        |                - (pm * psty - pst * psy) * (pm * psty - pst * psy)
        |                AS DOUBLE)
        |           / CAST(pm * (pm * pstt - pst * pst) AS DOUBLE) END AS rssp,
        |         CASE WHEN am * astt - ast * ast > 0 AND am >= 3 THEN
        |           CAST((am * asyy - asy * asy) * (am * astt - ast * ast)
        |                - (am * asty - ast * asy) * (am * asty - ast * asy)
        |                AS DOUBLE)
        |           / CAST(am * (am * astt - ast * ast) AS DOUBLE) END AS rssa,
        |         CASE WHEN bm * bstt - bst * bst > 0 AND bm >= 3 THEN
        |           CAST((bm * bsyy - bsy * bsy) * (bm * bstt - bst * bst)
        |                - (bm * bsty - bst * bsy) * (bm * bsty - bst * bsy)
        |                AS DOUBLE)
        |           / CAST(bm * (bm * bstt - bst * bst) AS DOUBLE) END AS rssb
        |  FROM wide
        |)
        |SELECT r.event_type, CAST(r.pm AS BIGINT) AS n, e.tbrk AS break_t,
        |       round(rssp, 4) AS rss_pooled,
        |       round(rssa + rssb, 4) AS rss_split,
        |       round(CASE WHEN rssa + rssb > 0 AND pm > 4 THEN
        |             ((rssp - rssa - rssb) / 2.0)
        |             / ((rssa + rssb) / CAST(pm - 4 AS DOUBLE)) END, 4)
        |         AS f_chow
        |FROM r JOIN ext e USING (event_type) ORDER BY event_type""".stripMargin,
    // PACF replay: the q343 one-mean multiply-through ACF at lags
    // 1..3 (time-arithmetic pairing), then the identical pinned
    // Durbin-Levinson chain on the unrounded rho doubles.
    "q420_pacf" ->
      s"""WITH s AS MATERIALIZED (
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
        |  CROSS JOIN (SELECT unnest(range(1, 4)) AS k) ks
        |  JOIN s b ON b.event_type = a.event_type
        |          AND b.day = a.day - ks.k
        |  GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT pr.event_type, pr.k, t.n,
        |         CASE WHEN t.n * (t.n * t.sxx - t.sx * t.sx) > 0 THEN
        |           CAST(t.n * t.n * pr.sxy - t.n * t.sx * (pr.sxt + pr.sxp)
        |                + pr.m * t.sx * t.sx AS DOUBLE)
        |           / CAST(t.n * (t.n * t.sxx - t.sx * t.sx) AS DOUBLE) END
        |           AS rho
        |  FROM pr JOIN tot t USING (event_type)
        |),
        |wide AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |         max(CASE WHEN k = 1 THEN rho END) AS r1,
        |         max(CASE WHEN k = 2 THEN rho END) AS r2,
        |         max(CASE WHEN k = 3 THEN rho END) AS r3
        |  FROM r GROUP BY 1
        |),
        |dl AS (
        |  SELECT event_type, n, r1, r2, r3,
        |         CASE WHEN abs(1.0 - r1 * r1) > 0 THEN
        |           (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22
        |  FROM wide
        |),
        |dl2 AS (
        |  SELECT event_type, n, r1, r2, r3, p22,
        |         r1 * (1.0 - p22) AS p21
        |  FROM dl
        |),
        |dl3 AS (
        |  SELECT event_type, n, r1, r2, r3, p22, p21,
        |         1.0 - p21 * r1 - p22 * r2 AS d3
        |  FROM dl2
        |)
        |SELECT event_type, n, round(r1, 4) AS phi1, round(p22, 4) AS phi2,
        |       round(CASE WHEN abs(d3) > 0 THEN
        |             (r3 - p21 * r2 - p22 * r1) / d3 END, 4) AS phi3
        |FROM dl3 ORDER BY event_type""".stripMargin,
    // Engle-Granger replay: exact HUGEINT OLS moments, the
    // scaled-exact residual E = Cxx(ny-Sy) - Cxy(nx-Sx) floored once
    // to integer micro-units, then the q402 DF chain on the
    // position-lagged residual series.
    "q421_coint" ->
      s"""WITH dly AS MATERIALIZED (
        |$DailyClickViewSql
        |),
        |mm AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM dly
        |),
        |c AS (
        |  SELECT n, sx, sy, n * sxx - sx * sx AS cxx, n * sxy - sx * sy AS cxy
        |  FROM mm
        |),
        |res AS MATERIALIZED (
        |  SELECT d.day,
        |         CAST(floor(CAST(c.cxx * (c.n * d.y - c.sy)
        |                         - c.cxy * (c.n * d.x - c.sx) AS DOUBLE)
        |                    / CAST(c.n * c.cxx AS DOUBLE) * 1e6 + 0.5)
        |              AS BIGINT) AS ru
        |  FROM dly d CROSS JOIN c WHERE c.cxx > 0
        |),
        |b AS (SELECT ru, lag(ru) OVER (ORDER BY day) AS z FROM res),
        |m2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
        |         CAST(sum(CAST(ru - z AS HUGEINT)) AS HUGEINT) AS sdy,
        |         CAST(sum(CAST(z AS HUGEINT) * (ru - z)) AS HUGEINT) AS szy,
        |         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
        |         CAST(sum(CAST(ru - z AS HUGEINT) * (ru - z)) AS HUGEINT) AS syy
        |  FROM b WHERE z IS NOT NULL
        |),
        |c2 AS (
        |  SELECT m, szz * m - sz * sz AS czz, szy * m - sz * sdy AS czy,
        |         syy * m - sdy * sdy AS cyy
        |  FROM m2
        |),
        |df AS (
        |  SELECT round(CASE WHEN czz > 0
        |               THEN CAST(czy AS DOUBLE) / CAST(czz AS DOUBLE) END, 4)
        |           AS gamma,
        |         round(CASE WHEN czz > 0 AND m >= 3
        |                    AND CAST(cyy AS DOUBLE)
        |                        - CAST(czy AS DOUBLE) * CAST(czy AS DOUBLE)
        |                          / CAST(czz AS DOUBLE) > 0 THEN
        |               (CAST(czy AS DOUBLE) / CAST(czz AS DOUBLE)) /
        |               sqrt((CAST(cyy AS DOUBLE)
        |                     - CAST(czy AS DOUBLE) * CAST(czy AS DOUBLE)
        |                       / CAST(czz AS DOUBLE)) /
        |                    ((CAST(m AS DOUBLE) - 2.0) * CAST(czz AS DOUBLE)))
        |               END, 4) AS tau
        |  FROM c2
        |)
        |SELECT CAST(c.n AS BIGINT) AS n,
        |       round(CASE WHEN c.cxx > 0
        |             THEN CAST(c.cxy AS DOUBLE) / CAST(c.cxx AS DOUBLE) END, 4)
        |         AS beta,
        |       round(CASE WHEN c.cxx > 0 THEN
        |             (CAST(c.sy AS DOUBLE)
        |              - (CAST(c.cxy AS DOUBLE) / CAST(c.cxx AS DOUBLE))
        |                * CAST(c.sx AS DOUBLE)) / CAST(c.n AS DOUBLE) END, 4)
        |         AS alpha,
        |       df.gamma, df.tau
        |FROM c LEFT JOIN df ON true""".stripMargin,
    // HL replay: the q183 quality/gopher scaffold; exact basis-point
    // bin moments, the exact-integer term ratio, nano-floor
    // contributions summed order-free.
    "q422_hosmer_lemeshow" ->
      s"""WITH $GopherDocSql,
         |${DocsBaseSql("text")},
         |$QualitySql,
         |g AS (SELECT doc_id, (${gopherPassPred(2)}) AS gopher_pass FROM d),
         |sc AS (
         |  SELECT least(CAST(floor(quality * 10) AS INT), 9) AS bin,
         |         quality, gopher_pass
         |  FROM q JOIN g USING (doc_id)
         |),
         |pb AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS ng,
         |         CAST(count(CASE WHEN gopher_pass THEN 1 END) AS BIGINT) AS og,
         |         CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS BIGINT)
         |           AS sq
         |  FROM sc GROUP BY 1
         |),
         |v AS (SELECT * FROM pb WHERE sq > 0 AND sq < ng * 10000),
         |tm AS (
         |  SELECT ng,
         |         CAST(floor(
         |           CAST((CAST(og AS HUGEINT) * 10000 - sq)
         |                * (CAST(og AS HUGEINT) * 10000 - sq) * ng AS DOUBLE)
         |           / CAST(CAST(sq AS HUGEINT)
         |                  * (CAST(ng AS HUGEINT) * 10000 - sq) AS DOUBLE)
         |           * 1e9 + 0.5) AS BIGINT) AS term
         |  FROM v
         |)
         |SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS g,
         |       CAST(count(*) - 2 AS BIGINT) AS dof,
         |       round(CAST(sum(term) AS DOUBLE) / 1e9, 4) AS hl_chi2
         |FROM tm""".stripMargin,
    // Fleiss replay: the identical 3-rater panel (length-bucket base
    // +/- md5 jitter), exact HUGEINT A/B/D terms.
    "q423_fleiss_kappa" ->
      s"""WITH $RaterSql,
         |cells AS MATERIALIZED (
         |  SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n FROM rt
         |  GROUP BY 1, 2
         |),
         |units AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS r,
         |         CAST(sum(n * n) AS BIGINT) AS sq
         |  FROM cells GROUP BY 1 HAVING sum(n) = 3
         |),
         |pu AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS nu,
         |         CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS a0
         |  FROM units
         |),
         |marg AS (
         |  SELECT CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS b
         |  FROM (SELECT c.cat, CAST(sum(c.n) AS BIGINT) AS cj
         |        FROM cells c JOIN units u USING (doc_id) GROUP BY 1)
         |)
         |SELECT CAST(pu.nu AS BIGINT) AS n_units, CAST(3 AS BIGINT) AS n_raters,
         |       round(CAST(pu.a0 - pu.nu * 3 AS DOUBLE)
         |             / CAST(pu.nu * 3 * 2 AS DOUBLE), 4) AS p_bar,
         |       round(CAST(marg.b AS DOUBLE)
         |             / CAST((pu.nu * 3) * (pu.nu * 3) AS DOUBLE), 4) AS p_e,
         |       round(CASE WHEN (pu.nu * 3) * (pu.nu * 3) - marg.b > 0 THEN
         |             CAST((pu.a0 - pu.nu * 3) * (pu.nu * 3) * (pu.nu * 3)
         |                  - marg.b * (pu.nu * 3 * 2) AS DOUBLE)
         |             / CAST((pu.nu * 3 * 2)
         |                    * ((pu.nu * 3) * (pu.nu * 3) - marg.b) AS DOUBLE)
         |             END, 4) AS kappa
         |FROM pu CROSS JOIN marg""".stripMargin,
    // ICC replay: same panel as numeric scores; exact HUGEINT
    // U/V/G sums, the (a-b)/(a+(k-1)b) common-scale chain.
    "q424_icc" ->
      s"""WITH $RaterSql,
         |units AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS r,
         |         CAST(sum(cat) AS BIGINT) AS t,
         |         CAST(sum(CAST(cat AS HUGEINT) * cat) AS HUGEINT) AS v
         |  FROM rt GROUP BY 1 HAVING count(*) = 3
         |),
         |agg AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |         CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS g,
         |         CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS uu,
         |         CAST(sum(v) AS HUGEINT) AS vv
         |  FROM units
         |),
         |ab AS (
         |  SELECT n, g, uu, vv,
         |         (n * uu - g * g) * 2 AS a,
         |         (3 * vv - uu) * (n - 1) AS b
         |  FROM agg
         |)
         |SELECT CAST(n AS BIGINT) AS n_units, CAST(3 AS BIGINT) AS k,
         |       round(CASE WHEN n > 1 THEN CAST(n * uu - g * g AS DOUBLE)
         |             / CAST(n * 3 * (n - 1) AS DOUBLE) END, 4) AS msb,
         |       round(CAST(3 * vv - uu AS DOUBLE)
         |             / CAST(3 * n * 2 AS DOUBLE), 4) AS msw,
         |       round(CASE WHEN a + 2 * b > 0 THEN
         |             CAST(a - b AS DOUBLE) / CAST(a + 2 * b AS DOUBLE) END, 4)
         |         AS icc
         |FROM ab""".stripMargin,
    // Ordinal-association replay: identical (x,y) cell cross with
    // strict-inequality orientation, HUGEINT weights.
    "q425_ordinal_assoc" ->
      """WITH b AS (
        |  SELECT least(n_chars // 1000, 5) AS xb,
        |         least((length(text) - length(replace(text, ' ', '')) + 1)
        |               // 150, 5) AS yb
        |  FROM documents
        |),
        |cells AS MATERIALIZED (
        |  SELECT xb AS x, yb AS y, CAST(count(*) AS BIGINT) AS c FROM b
        |  WHERE xb IS NOT NULL AND yb IS NOT NULL GROUP BY 1, 2
        |),
        |pr AS (
        |  SELECT
        |    CAST(sum(CASE WHEN b2.x > b1.x AND b2.y > b1.y
        |             THEN CAST(b1.c AS HUGEINT) * b2.c ELSE 0 END) AS HUGEINT)
        |      AS cc,
        |    CAST(sum(CASE WHEN b2.x > b1.x AND b2.y < b1.y
        |             THEN CAST(b1.c AS HUGEINT) * b2.c ELSE 0 END) AS HUGEINT)
        |      AS dd,
        |    CAST(sum(CASE WHEN b2.x = b1.x AND b2.y > b1.y
        |             THEN CAST(b1.c AS HUGEINT) * b2.c ELSE 0 END) AS HUGEINT)
        |      AS tx,
        |    CAST(sum(CASE WHEN b2.y = b1.y AND b2.x > b1.x
        |             THEN CAST(b1.c AS HUGEINT) * b2.c ELSE 0 END) AS HUGEINT)
        |      AS ty
        |  FROM cells b1 CROSS JOIN cells b2
        |),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b
        |        WHERE xb IS NOT NULL AND yb IS NOT NULL)
        |SELECT tot.n, CAST(cc AS BIGINT) AS c_pairs, CAST(dd AS BIGINT) AS d_pairs,
        |       CAST(tx AS BIGINT) AS t_x, CAST(ty AS BIGINT) AS t_y,
        |       round(CASE WHEN cc + dd > 0 THEN
        |             CAST(cc - dd AS DOUBLE) / CAST(cc + dd AS DOUBLE) END, 4)
        |         AS gamma,
        |       round(CASE WHEN cc + dd + ty > 0 THEN
        |             CAST(cc - dd AS DOUBLE) / CAST(cc + dd + ty AS DOUBLE) END,
        |             4) AS somers_d_yx,
        |       round(CASE WHEN cc + dd + tx > 0 THEN
        |             CAST(cc - dd AS DOUBLE) / CAST(cc + dd + tx AS DOUBLE) END,
        |             4) AS somers_d_xy
        |FROM tot CROSS JOIN pr""".stripMargin,
    // Advisor replay: one cell scan, per-candidate re-aggregation,
    // exact integer milli-skew, the same verdict CASE chain.
    "q426_partition_advisor" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS rws,
        |         CAST(sum(n_chars) AS BIGINT) AS byt
        |  FROM documents GROUP BY 1, 2
        |),
        |per AS (
        |  SELECT 'lang' AS candidate, CAST(count(*) AS BIGINT) AS n_parts,
        |         CAST(sum(r) AS BIGINT) AS rows_total,
        |         CAST(max(r) AS BIGINT) AS rows_max,
        |         CAST(sum(bb) AS BIGINT) AS bytes_total,
        |         CAST(max(bb) AS BIGINT) AS bytes_max,
        |         CAST(count(CASE WHEN bb < 65536 THEN 1 END) AS BIGINT)
        |           AS small_parts
        |  FROM (SELECT lang, sum(rws) AS r, sum(byt) AS bb FROM cells GROUP BY 1)
        |  UNION ALL
        |  SELECT 'source', CAST(count(*) AS BIGINT), CAST(sum(r) AS BIGINT),
        |         CAST(max(r) AS BIGINT), CAST(sum(bb) AS BIGINT),
        |         CAST(max(bb) AS BIGINT),
        |         CAST(count(CASE WHEN bb < 65536 THEN 1 END) AS BIGINT)
        |  FROM (SELECT source, sum(rws) AS r, sum(byt) AS bb FROM cells
        |        GROUP BY 1)
        |  UNION ALL
        |  SELECT 'lang/source', CAST(count(*) AS BIGINT), CAST(sum(r) AS BIGINT),
        |         CAST(max(r) AS BIGINT), CAST(sum(bb) AS BIGINT),
        |         CAST(max(bb) AS BIGINT),
        |         CAST(count(CASE WHEN bb < 65536 THEN 1 END) AS BIGINT)
        |  FROM (SELECT lang, source, sum(rws) AS r, sum(byt) AS bb FROM cells
        |        GROUP BY 1, 2)
        |),
        |sk AS (
        |  SELECT *, rows_max * 1000 * n_parts // rows_total AS skew_milli
        |  FROM per
        |)
        |SELECT candidate, n_parts, rows_total, rows_max, skew_milli,
        |       bytes_total, bytes_max, small_parts,
        |       CASE WHEN n_parts > 256 THEN 'high-cardinality'
        |            WHEN skew_milli > 8000 THEN 'skewed'
        |            WHEN small_parts * 2 > n_parts THEN 'mostly-small'
        |            ELSE 'ok' END AS verdict
        |FROM sk ORDER BY candidate""".stripMargin,
    // HITS replay: 8 unrolled synchronous rounds over the q31 pair
    // set (every CTE MATERIALIZED - each feeds two successors);
    // integer ppm mass with the same floor-division renormalize.
    "q427_hits" -> {
      val rounds = (1 to 8).map { i =>
        s"""ar$i AS MATERIALIZED (
           |  SELECT n.id, coalesce(sr.r, 0) AS raw
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(p.h) AS BIGINT) AS r
           |    FROM edges e JOIN h${i - 1} p ON e.src = p.id GROUP BY 1) sr
           |    USING (id)
           |),
           |a$i AS MATERIALIZED (
           |  SELECT id, CASE WHEN t.t > 0 THEN raw * 1000000 // t.t
           |             ELSE 0 END AS a
           |  FROM ar$i CROSS JOIN
           |    (SELECT CAST(sum(raw) AS BIGINT) AS t FROM ar$i) t
           |),
           |hr$i AS MATERIALIZED (
           |  SELECT n.id, coalesce(sr.r, 0) AS raw
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.src AS id, CAST(sum(p.a) AS BIGINT) AS r
           |    FROM edges e JOIN a$i p ON e.dst = p.id GROUP BY 1) sr
           |    USING (id)
           |),
           |h$i AS MATERIALIZED (
           |  SELECT id, CASE WHEN t.t > 0 THEN raw * 1000000 // t.t
           |             ELSE 0 END AS h
           |  FROM hr$i CROSS JOIN
           |    (SELECT CAST(sum(raw) AS BIGINT) AS t FROM hr$i) t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $MinhashPairsSql,
         |edges AS MATERIALIZED (SELECT idA AS src, idB AS dst FROM lshpairs),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT id FROM
         |    (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
         |),
         |h0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |$rounds
         |SELECT h8.id, h8.h AS hub_ppm, a8.a AS auth_ppm
         |FROM h8 JOIN a8 USING (id) ORDER BY id""".stripMargin
    },
    // Otsu replay: the q396 pixel synthesis with JOINT channels ->
    // integer ITU-R 601 gray, cumulative class moments, the
    // 1024-scaled exact-integer score, earliest-gray argmax.
    "q428_otsu" ->
      s"""WITH ${TextImageSql("bb", "dd")},
        |px AS (SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS k FROM dd),
        |ch AS (
        |  SELECT doc_id, w, h,
        |         ascii(substring(text, CAST((3*k + 2) % n AS INT) + 1, 1)) AS r,
        |         ascii(substring(text, CAST((3*k + 1) % n AS INT) + 1, 1)) AS g,
        |         ascii(substring(text, CAST((3*k) % n AS INT) + 1, 1)) AS b
        |  FROM px
        |),
        |gr AS (
        |  SELECT doc_id, w, h, (299 * r + 587 * g + 114 * b) // 1000 AS gray,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM ch GROUP BY 1, 2, 3, 4
        |),
        |cm AS (
        |  SELECT doc_id, w, h, gray, cnt,
        |         sum(cnt) OVER (PARTITION BY doc_id ORDER BY gray
        |               ROWS UNBOUNDED PRECEDING) AS w0,
        |         sum(gray * cnt) OVER (PARTITION BY doc_id ORDER BY gray
        |               ROWS UNBOUNDED PRECEDING) AS s0,
        |         sum(gray * cnt) OVER (PARTITION BY doc_id) AS sg,
        |         CAST(w AS BIGINT) * h AS wp
        |  FROM gr
        |),
        |sc AS (
        |  SELECT doc_id, w, h, gray, w0, wp,
        |         ((sg * w0 - s0 * wp) * (sg * w0 - s0 * wp) * 1024)
        |           // (w0 * (wp - w0)) AS score
        |  FROM cm WHERE w0 < wp
        |),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |               ORDER BY score DESC, gray ASC) AS rn
        |  FROM sc
        |)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(gray AS INT) AS threshold,
        |       CAST(wp - w0 AS BIGINT) AS fg_px,
        |       round(CAST(wp - w0 AS DOUBLE) / CAST(wp AS DOUBLE), 4)
        |         AS fg_ratio
        |FROM rk WHERE rn = 1""".stripMargin,
    // Colorfulness replay: same pixel synthesis, exact opponent sums
    // (doubled yb), the identical pinned sigma/mu chain.
    "q429_colorfulness" ->
      s"""WITH ${TextImageSql("bb", "dd")},
        |px AS (SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS k FROM dd),
        |ch AS (
        |  SELECT doc_id, CAST(w AS BIGINT) * h AS np,
        |         ascii(substring(text, CAST((3*k + 2) % n AS INT) + 1, 1)) AS r,
        |         ascii(substring(text, CAST((3*k + 1) % n AS INT) + 1, 1)) AS g,
        |         ascii(substring(text, CAST((3*k) % n AS INT) + 1, 1)) AS b
        |  FROM px
        |),
        |m AS (
        |  SELECT doc_id, CAST(max(np) AS BIGINT) AS n_px,
        |         CAST(sum(r - g) AS BIGINT) AS srg,
        |         CAST(sum((r - g) * (r - g)) AS BIGINT) AS srg2,
        |         CAST(sum(r + g - 2 * b) AS BIGINT) AS syb,
        |         CAST(sum((r + g - 2 * b) * (r + g - 2 * b)) AS BIGINT) AS syb2
        |  FROM ch GROUP BY 1
        |)
        |SELECT doc_id, n_px,
        |       round(sqrt(CAST(n_px * srg2 - srg * srg AS DOUBLE)
        |                  / (CAST(n_px AS DOUBLE) * CAST(n_px AS DOUBLE))
        |                  + CAST(n_px * syb2 - syb * syb AS DOUBLE)
        |                    / (4.0 * CAST(n_px AS DOUBLE) * CAST(n_px AS DOUBLE)))
        |             + 0.3 * sqrt((CAST(srg AS DOUBLE) / CAST(n_px AS DOUBLE))
        |                          * (CAST(srg AS DOUBLE) / CAST(n_px AS DOUBLE))
        |                          + (CAST(syb AS DOUBLE)
        |                             / (2.0 * CAST(n_px AS DOUBLE)))
        |                            * (CAST(syb AS DOUBLE)
        |                               / (2.0 * CAST(n_px AS DOUBLE)))), 4)
        |         AS colorfulness
        |FROM m""".stripMargin,
    // CDC replay: linear char split (regexp_extract_all with (?s)),
    // the same 31-polynomial window hash, identical bounds/chunk
    // construction, md5 chunk identity.
    "q430_cdc_chunks" ->
      """WITH dd AS (
        |  SELECT doc_id, source, substring(text, 1, 512) AS txt
        |  FROM documents WHERE length(text) > 0
        |),
        |arr AS (
        |  SELECT doc_id, source, txt,
        |         list_transform(regexp_extract_all(txt, '(?s).', 0),
        |           c -> CAST(ascii(c) AS BIGINT)) AS cps
        |  FROM dd
        |),
        |cut AS (
        |  SELECT doc_id, source, txt, len(cps) AS L,
        |         list_transform(list_filter(range(1, len(cps) - 6), i ->
        |           (cps[CAST(i AS INT)] * 27512614111
        |            + cps[CAST(i + 1 AS INT)] * 887503681
        |            + cps[CAST(i + 2 AS INT)] * 28629151
        |            + cps[CAST(i + 3 AS INT)] * 923521
        |            + cps[CAST(i + 4 AS INT)] * 29791
        |            + cps[CAST(i + 5 AS INT)] * 961
        |            + cps[CAST(i + 6 AS INT)] * 31
        |            + cps[CAST(i + 7 AS INT)]) % 64 = 0), i -> i + 7) AS cuts
        |  FROM arr
        |),
        |bnd AS (
        |  SELECT source, txt,
        |         list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
        |           [CAST(L AS BIGINT)]) AS b
        |  FROM cut
        |),
        |chx AS (
        |  SELECT source, b, txt, unnest(range(1, len(b))) AS k FROM bnd
        |),
        |ch AS (
        |  SELECT source,
        |         md5(substring(txt, CAST(b[CAST(k AS INT)] + 1 AS INT),
        |               CAST(b[CAST(k + 1 AS INT)] - b[CAST(k AS INT)] AS INT)))
        |           AS hh,
        |         b[CAST(k + 1 AS INT)] - b[CAST(k AS INT)] AS clen
        |  FROM chx WHERE b[CAST(k + 1 AS INT)] - b[CAST(k AS INT)] > 0
        |),
        |gg AS (
        |  SELECT source, hh, CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(max(clen) AS BIGINT) AS len1
        |  FROM ch GROUP BY 1, 2
        |)
        |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
        |       CAST(sum(cnt * len1) AS BIGINT) AS chars_total,
        |       CAST(sum(len1) AS BIGINT) AS chars_distinct,
        |       round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE),
        |             4) AS dup_ratio,
        |       round(1.0 - CAST(sum(len1) AS DOUBLE)
        |             / CAST(sum(cnt * len1) AS DOUBLE), 4) AS savings
        |FROM gg GROUP BY 1 ORDER BY source""".stripMargin)

  /** The q423/q424 shared 3-rater panel in SQL — mirrors
    * [[raterFrame]] verbatim.
    */
  private def RaterSql: String =
    s"""r3 AS (SELECT doc_id, n_chars, unnest([1, 2, 3]) AS r FROM documents),
       |rt AS MATERIALIZED (
       |  SELECT doc_id,
       |         greatest(0, least(3, least(n_chars // 800, 3)
       |           + (${HexValSql("md5(CAST(doc_id AS VARCHAR) || ':fk:' || CAST(r AS VARCHAR))", 1, 6)} % 3) - 1)) AS cat
       |  FROM r3
       |)""".stripMargin
}
