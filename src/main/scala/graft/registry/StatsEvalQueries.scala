package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — model-evaluation metrics: ranking/calibration
  * curves and agreement scores (AUC, ROC/PR, F1, kappa, MCC, Brier,
  * ECE, qini/lift, Krippendorff). Split from StatsQueries at the
  * inference/eval seam (the Rollups split rule: no file >3k).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object StatsEvalQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q216_auc" -> ((s, dir) => {
      // F34 threshold-free classifier quality: does value separate
      // clicks from views? AUC via the F27 rank statistic
      val t = Tables(s, dir)
      Rollups.rocAuc(t.events, "event_type", "value", "click", "view")
    }),
    "q350_log_loss" -> ((s, dir) => {
      // F79 likelihood-proper filter scoring: quality read as a pass
      // probability vs the Gopher gate, judged against the label
      // entropy — nano-unit order-free term sums
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.logLoss(scored, "quality", "gopher_pass")
    }),
    "q268_brier" -> ((s, dir) => {
      // F56 proper-score check: does the quality score, read as a
      // pass probability, beat the base-rate forecast?
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.brierScore(scored, "quality", "gopher_pass")
    }),
    "q267_mcc" -> ((s, dir) => {
      // F55 Matthews correlation of the quality filter vs the Gopher
      // gate — the imbalance-honest single number
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
        .withColumn("q_pass", col("quality") >= 0.5)
      Rollups.matthewsCorr(scored, "q_pass", "gopher_pass")
    }),
    "q265_kappa" -> ((s, dir) => {
      // F54 chance-corrected filter agreement: does quality >= 0.5
      // agree with the Gopher gate beyond base rates?
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
        .withColumn("q_pass", col("quality") >= 0.5)
      Rollups.cohenKappa(scored, "q_pass", "gopher_pass")
    }),
    "q263_pr_curve" -> ((s, dir) => {
      // F52 precision-recall sweep + average precision — the
      // imbalance-honest companion to q262
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.prCurve(scored, "quality", "gopher_pass")
    }),
    "q264_best_f1" -> ((s, dir) => {
      // F53 deployable threshold: the decile cut maximizing F1
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.bestF1Threshold(scored, "quality", "gopher_pass")
    }),
    "q262_roc_curve" -> ((s, dir) => {
      // F51 ROC operating points: TPR/FPR per quality decile against
      // the Gopher pass label — the table behind q216's AUC
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.rocCurve(scored, "quality", "gopher_pass")
    }),
    "q241_qini" -> ((s, dir) => {
      // F43 uplift targeting eval: does spend rank find the users
      // the (parity-arm) treatment moves to purchase?
      val t = Tables(s, dir)
      val users = t.events.groupBy("user_id").agg(
        coalesce(sum(round(col("value") * 100).cast("long")), lit(0L))
          .as("__sc"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__conv"))
        .select(col("user_id"),
          (col("__sc") / lit(100.0)).as("score"),
          (pmod(col("user_id"), lit(2)) === 1).as("treat"),
          (col("__conv") === 1L).as("converted"))
      Rollups.qiniCurve(users, "score", "treat", "converted")
    }),
    "q238_lift_curve" -> ((s, dir) => {
      // F42 cumulative gains/lift: does the quality ORDERING find
      // the Gopher-passing docs? (F39 asks if the probabilities are
      // honest; this asks if the ranking targets well)
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.liftCurve(scored, "quality", "gopher_pass")
    }),
    "q227_ece" -> ((s, dir) => {
      // F39 expected calibration error of the quality score against
      // the Gopher pass outcome — G62's diagram as one number
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      Rollups.calibrationError(scored, "quality", "gopher_pass")
    }),
    "q273_krippendorff" -> ((s, dir) => {
      // F57 Krippendorff's alpha: do a user's repeated events agree on
      // high-value status — binary, ragged ratings-per-unit, units
      // with < 2 ratings excluded
      val t = Tables(s, dir)
      val ratings = t.events.filter(col("value").isNotNull)
        .select(col("user_id"),
          when(col("value") >= 50, 1L).otherwise(0L).as("r"))
      Rollups.krippendorffAlpha(ratings, "user_id", "r")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q216_auc" ->
      s"""WITH p AS (
        |$TwoGroupGrainSql
        |),
        |r AS (
        |  SELECT c1, c2,
        |         $Midrank2Sql AS r2
        |  FROM p
        |),
        |s AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
        |         CAST(sum(c2) AS BIGINT) AS n_neg,
        |         CAST(sum(c1 * r2) AS BIGINT) AS r2sum1
        |  FROM r
        |)
        |SELECT n_pos, n_neg,
        |       round(CAST(r2sum1 - n_pos * (n_pos + 1) AS DOUBLE)
        |             / CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |                    ELSE CAST(2 * n_pos * n_neg AS DOUBLE) END, 4) AS auc
        |FROM s""".stripMargin,
    // Gini replay: same value-grain tie-run closed form, HUGEINT
    // totals mirroring the decimal(38,0) sums.,
    "q227_ece" ->
      s"""WITH $GopherQualitySql,
         |b AS (
         |  SELECT CAST(least(CAST(floor(CAST(qi AS DOUBLE) / 10000.0 * 10) AS BIGINT), 9) AS BIGINT) AS bin,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(qi) AS BIGINT) AS sc,
         |         CAST(count(CASE WHEN gopher_pass THEN 1 END) AS BIGINT) AS hits
         |  FROM q JOIN g USING (doc_id) GROUP BY 1
         |),
         |w2 AS (
         |  SELECT bin, n, sc, hits, sum(n) OVER () AS nn,
         |         CAST(sc AS DOUBLE) / n / 10000.0 AS conf,
         |         CAST(hits AS DOUBLE) / n AS acc
         |  FROM b
         |),
         |c AS (
         |  SELECT bin, n, conf, acc,
         |         round(CAST(n AS DOUBLE) / nn * abs(acc - conf), 6) AS contrib
         |  FROM w2
         |)
         |SELECT bin, n, round(conf, 4) AS conf_avg, round(acc, 4) AS acc,
         |       contrib, round(sum(contrib) OVER (), 4) AS ece
         |FROM c""".stripMargin,
    // Item-cosine replay: same basket collapse, same in-row pair
    // expansion, same 4dp-rounded keep test.,
    "q238_lift_curve" ->
      s"""WITH $GopherQualitySql,
         |rows_q AS (
         |  SELECT q.qi AS u, CASE WHEN g.gopher_pass THEN 1 ELSE 0 END AS y
         |  FROM q JOIN g USING (doc_id)
         |),
         |b AS (
         |  SELECT list_transform(quantile_cont(u, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
         |           x -> round(x, 4)) AS bs
         |  FROM rows_q
         |),
         |binned AS (
         |  SELECT CAST(list_sum(list_transform(bs,
         |           x -> CASE WHEN u > x THEN 1 ELSE 0 END)) AS BIGINT) AS bin, y
         |  FROM rows_q CROSS JOIN b
         |),
         |t AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM binned GROUP BY 1
         |),
         |c AS (
         |  SELECT bin, n, n_pos,
         |         CAST(sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
         |         CAST(sum(n_pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
         |         CAST(sum(n) OVER () AS BIGINT) AS tn,
         |         CAST(sum(n_pos) OVER () AS BIGINT) AS tp
         |  FROM t
         |)
         |SELECT bin, n, n_pos, cum_n, cum_pos,
         |       round(CAST(cum_pos AS DOUBLE)
         |             / CASE WHEN tp = 0 THEN NULL ELSE CAST(tp AS DOUBLE) END, 4) AS gain,
         |       round((CAST(cum_pos AS DOUBLE) / cum_n)
         |             / CASE WHEN tp = 0 THEN NULL
         |                    ELSE CAST(tp AS DOUBLE) / tn END, 4) AS lift
         |FROM c""".stripMargin,
    // Qini replay: same user frame, same parity arms, I25 boundary
    // binning, desc cumulative incremental conversions.,
    "q241_qini" ->
      """WITH u AS (
        |  SELECT user_id,
        |         COALESCE(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT), 0) AS sc,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1
        |),
        |r AS (
        |  SELECT CAST(round(CAST(sc AS DOUBLE) / 100.0 * 10000) AS BIGINT) AS u,
        |         user_id % 2 <> 0 AS t, conv AS y
        |  FROM u
        |),
        |b AS (
        |  SELECT list_transform(
        |           quantile_cont(u, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |           x -> round(x, 4)) AS bs
        |  FROM r
        |),
        |binned AS (
        |  SELECT CAST(list_sum(list_transform(bs,
        |           x -> CASE WHEN u > x THEN 1 ELSE 0 END)) AS BIGINT) AS bin, t, y
        |  FROM r CROSS JOIN b
        |),
        |g AS (
        |  SELECT bin,
        |         CAST(count(*) FILTER (t) AS BIGINT) AS n_treat,
        |         CAST(count(*) FILTER (NOT t) AS BIGINT) AS n_ctrl,
        |         CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS conv_treat,
        |         CAST(sum(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS conv_ctrl
        |  FROM binned GROUP BY 1
        |),
        |c AS (
        |  SELECT *,
        |         CAST(sum(n_treat) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnt,
        |         CAST(sum(n_ctrl) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnc,
        |         CAST(sum(conv_treat) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpt,
        |         CAST(sum(conv_ctrl) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpc
        |  FROM g
        |)
        |SELECT bin, n_treat, n_ctrl, conv_treat, conv_ctrl,
        |       round(CAST(cpt AS DOUBLE) - CAST(cpc AS DOUBLE)
        |             * CASE WHEN cnc = 0 THEN NULL
        |                    ELSE CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE) END, 4) AS qini,
        |       round(CAST(cpt AS DOUBLE)
        |             / CASE WHEN cnt = 0 THEN NULL ELSE CAST(cnt AS DOUBLE) END
        |             - CAST(cpc AS DOUBLE)
        |             / CASE WHEN cnc = 0 THEN NULL ELSE CAST(cnc AS DOUBLE) END, 4) AS uplift
        |FROM c""".stripMargin,
    // Triple-support replay: same sorted distinct baskets, same
    // canonical (a < b < c) in-row expansion, same top-k order.,
    "q262_roc_curve" ->
      s"""WITH $GopherQualitySql,
         |$GopherDecileBinsSql,
         |c AS (
         |  SELECT bin, n, n_pos,
         |         CAST(sum(n_pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
         |         CAST(sum(n - n_pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         |         CAST(sum(n_pos) OVER () AS BIGINT) AS tp,
         |         CAST(sum(n - n_pos) OVER () AS BIGINT) AS tn
         |  FROM t
         |)
         |SELECT bin, n, n_pos,
         |       round(CAST(cp AS DOUBLE)
         |             / CASE WHEN tp = 0 THEN NULL ELSE CAST(tp AS DOUBLE) END, 4) AS tpr,
         |       round(CAST(cn AS DOUBLE)
         |             / CASE WHEN tn = 0 THEN NULL ELSE CAST(tn AS DOUBLE) END, 4) AS fpr
         |FROM c""".stripMargin,
    // PR replay: q262's bins, step-wise AP from 6dp contributions.,
    "q263_pr_curve" ->
      s"""WITH $GopherQualitySql,
         |$GopherDecileBinsSql,
         |c AS (
         |  SELECT bin, n, n_pos,
         |         round(CAST(sum(n_pos) OVER dw AS DOUBLE)
         |               / sum(n) OVER dw, 4) AS precision,
         |         round(CAST(sum(n_pos) OVER dw AS DOUBLE)
         |               / CASE WHEN sum(n_pos) OVER () = 0 THEN NULL
         |                      ELSE CAST(sum(n_pos) OVER () AS DOUBLE) END, 4) AS recall
         |  FROM t
         |  WINDOW dw AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
         |),
         |a AS (
         |  SELECT *, round((recall - coalesce(lag(recall) OVER (ORDER BY bin DESC), 0.0))
         |                  * precision, 6) AS apc
         |  FROM c
         |)
         |SELECT bin, n, n_pos, precision, recall,
         |       round(sum(apc) OVER (), 4) AS ap
         |FROM a""".stripMargin,
    // Best-F1 replay: the PR bins, 4dp F1, (f1 desc, bin desc) argmax.,
    "q264_best_f1" ->
      s"""WITH $GopherQualitySql,
         |$GopherDecileBinsSql,
         |c AS (
         |  SELECT bin,
         |         round(CAST(sum(n_pos) OVER dw AS DOUBLE) / sum(n) OVER dw, 4) AS precision,
         |         round(CAST(sum(n_pos) OVER dw AS DOUBLE)
         |               / CASE WHEN sum(n_pos) OVER () = 0 THEN NULL
         |                      ELSE CAST(sum(n_pos) OVER () AS DOUBLE) END, 4) AS recall
         |  FROM t
         |  WINDOW dw AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
         |),
         |f AS (
         |  SELECT bin, precision, recall,
         |         round(2.0 * precision * recall
         |               / CASE WHEN precision + recall = 0 THEN NULL
         |                      ELSE precision + recall END, 4) AS f1
         |  FROM c
         |),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY f1 DESC NULLS LAST, bin DESC) AS rnk
         |  FROM f
         |)
         |SELECT bin AS best_bin, precision, recall, f1
         |FROM r WHERE rnk = 1""".stripMargin,
    // Kappa replay: the same 2x2 exact table and closed form.,
    "q265_kappa" ->
      s"""WITH $GopherQualitySql,
         |j AS (
         |  SELECT CAST(q.qi AS DOUBLE) / 10000.0 >= 0.5 AS a, g.gopher_pass AS b
         |  FROM q JOIN g USING (doc_id)
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(*) FILTER (a AND b) AS BIGINT) AS tt,
         |         CAST(count(*) FILTER (a AND NOT b) AS BIGINT) AS tf,
         |         CAST(count(*) FILTER (NOT a AND b) AS BIGINT) AS ft,
         |         CAST(count(*) FILTER (NOT a AND NOT b) AS BIGINT) AS ff
         |  FROM j HAVING count(*) > 0
         |),
         |c AS (
         |  SELECT n, tt + ff AS n_agree,
         |         CAST(tt + ff AS DOUBLE) / n AS po,
         |         (CAST(tt + tf AS DOUBLE) * CAST(tt + ft AS DOUBLE)
         |          + CAST(ft + ff AS DOUBLE) * CAST(tf + ff AS DOUBLE))
         |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
         |  FROM m
         |)
         |SELECT n, CAST(n_agree AS BIGINT) AS n_agree,
         |       round(po, 4) AS p_o, round(pe, 4) AS p_e,
         |       round((po - pe) / CASE WHEN pe = 1.0 THEN NULL ELSE 1.0 - pe END, 4)
         |         AS kappa
         |FROM c""".stripMargin,
    // MCC replay: the q265 2x2, exact HUGEINT products.,
    "q267_mcc" ->
      s"""WITH $GopherQualitySql,
         |j AS (
         |  SELECT CAST(q.qi AS DOUBLE) / 10000.0 >= 0.5 AS p, g.gopher_pass AS y
         |  FROM q JOIN g USING (doc_id)
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(*) FILTER (p AND y) AS BIGINT) AS tp,
         |         CAST(count(*) FILTER (p AND NOT y) AS BIGINT) AS fp,
         |         CAST(count(*) FILTER (NOT p AND y) AS BIGINT) AS fn,
         |         CAST(count(*) FILTER (NOT p AND NOT y) AS BIGINT) AS tn
         |  FROM j HAVING count(*) > 0
         |),
         |c AS (
         |  SELECT *,
         |         CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS num,
         |         sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
         |                   * (tn + fp) * (tn + fn) AS DOUBLE)) AS den
         |  FROM m
         |)
         |SELECT n, tp, fp, fn, tn,
         |       round(CAST(num AS DOUBLE)
         |             / CASE WHEN den = 0 THEN NULL ELSE den END, 4) AS mcc
         |FROM c""".stripMargin,
    // Log-loss replay: q268's exact 1e-4-unit quality integers,
    // clamped to [1, 9999] (the Spark-side semantics), nano-unit
    // per-row terms via the engine-identical floor, entropy reference.
    "q350_log_loss" ->
      s"""WITH $GopherQualitySql,
         |j AS (
         |  SELECT greatest(1, least(9999, q.qi)) AS u,
         |         CASE WHEN g.gopher_pass THEN 1 ELSE 0 END AS y
         |  FROM q JOIN g USING (doc_id)
         |),
         |tm AS (
         |  SELECT y,
         |         CAST(floor(-(CASE WHEN y = 1
         |                  THEN ln(CAST(u AS DOUBLE) / 10000.0)
         |                  ELSE ln(1.0 - CAST(u AS DOUBLE) / 10000.0) END)
         |              * 1e9 + 0.5) AS BIGINT) AS t
         |  FROM j
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(y) AS BIGINT) AS p,
         |         CAST(sum(t) AS BIGINT) AS ts
         |  FROM tm HAVING count(*) > 0
         |),
         |f AS (
         |  SELECT n,
         |         CAST(p AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
         |         CAST(ts AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS ll,
         |         CASE WHEN p > 0 AND p < n THEN
         |           -(CAST(p AS DOUBLE) / CAST(n AS DOUBLE)
         |               * ln(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
         |             + (1.0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
         |               * ln(1.0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE)))
         |         END AS ref
         |  FROM m
         |)
         |SELECT n, round(rate, 4) AS base_rate, round(ll, 6) AS log_loss,
         |       round(ref, 6) AS log_loss_ref,
         |       round(1.0 - ll / ref, 4) AS skill
         |FROM f""".stripMargin,
    // Brier replay: exact 1e-4-unit squared errors, closed-form
    // reference score.,
    "q268_brier" ->
      s"""WITH $GopherQualitySql,
         |j AS (
         |  SELECT q.qi AS u, CASE WHEN g.gopher_pass THEN 1 ELSE 0 END AS y
         |  FROM q JOIN g USING (doc_id)
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(y) AS BIGINT) AS p,
         |         CAST(sum((u - 10000 * y) * (u - 10000 * y)) AS BIGINT) AS se
         |  FROM j HAVING count(*) > 0
         |),
         |c AS (
         |  SELECT n, CAST(p AS DOUBLE) / n AS rate,
         |         round(CAST(se AS DOUBLE) / n / 1e8, 6) AS brier
         |  FROM m
         |),
         |r AS (
         |  SELECT *, round(rate * (1.0 - rate), 6) AS brier_ref FROM c
         |)
         |SELECT n, round(rate, 4) AS base_rate, brier, brier_ref,
         |       round(1.0 - brier
         |             / CASE WHEN brier_ref = 0 THEN NULL ELSE brier_ref END, 4) AS skill
         |FROM r""".stripMargin,
    // Krippendorff replay: same per-unit micro-unit coincidence
    // quantization, HUGEINT marginal products, same exclusions.,
    "q273_krippendorff" ->
      """WITH r AS (
        |  SELECT user_id, CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r
        |  FROM events WHERE value IS NOT NULL
        |),
        |u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c, CAST(sum(r) AS BIGINT) AS s
        |  FROM r GROUP BY 1 HAVING count(*) >= 2
        |),
        |q AS (
        |  SELECT c, s,
        |         CAST(round(2.0 * s * (c - s) / (c - 1) * 1e6) AS BIGINT) AS o01u
        |  FROM u
        |),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |         CAST(sum(c) AS BIGINT) AS n_ratings,
        |         CAST(sum(s) AS BIGINT) AS n1,
        |         CAST(sum(o01u) AS BIGINT) AS o01
        |  FROM q
        |)
        |SELECT n_units, n_ratings,
        |       round(CAST(o01 AS DOUBLE) / 1e6 / n_ratings, 4) AS do_rate,
        |       round(2.0 * CAST(CAST(n_ratings - n1 AS HUGEINT) * CAST(n1 AS HUGEINT) AS DOUBLE)
        |             / CAST(CAST(n_ratings AS HUGEINT) * CAST(n_ratings - 1 AS HUGEINT) AS DOUBLE), 4) AS de_rate,
        |       CASE WHEN n1 = 0 OR n_ratings = n1 THEN NULL
        |            ELSE round(1.0 - (CAST(o01 AS DOUBLE) / 1e6) * (n_ratings - 1)
        |                 / (2.0 * CAST(CAST(n_ratings - n1 AS HUGEINT) * CAST(n1 AS HUGEINT) AS DOUBLE)), 4)
        |       END AS alpha
        |FROM t""".stripMargin,
    // mSPRT replay: same HUGEINT cumulative moments at day grain, same
    // written-order Lambda expression, same rounded running min.,
  )
}
