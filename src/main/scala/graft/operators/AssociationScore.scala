package graft.operators

import graft.GraftConf
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cumulative harmonic-sum association scoring over time.
  *
  * Capability parity with the reference's
  * `get_association_score_by_datasource_dated` /
  * `get_association_score_by_overall_dated`
  * (/root/reference/timeseries.py:371–527, 637–731), re-architected
  * Spark-first (see SURVEY.md §4):
  *
  *  - The reference cross-joins (datasource × all years) against all
  *    pairs at *evidence grain* and recomputes the harmonic sum for
  *    every calendar year, then `repartition(400, "year")` — a skewed
  *    shuffle at 100 TB. graft instead:
  *      1. aggregates evidence to (pair, source, year) grain first
  *         (map-side combine, high-cardinality shuffle keys),
  *      2. computes the cumulative harmonic score only for *active*
  *         years (years with new evidence) via an ordered window,
  *      3. densifies by segment fill: lead/lag over the same window
  *         partitioning gives each active year its carry-forward range,
  *         one `explode(sequence(...))` emits the calendar rows —
  *         O(active-years) harmonic computations, a single evidence
  *         scan, and no scaffold join at all.
  *  - Unlike the reference's scaffold left-join (which silently drops
  *    evidence dated outside the scaffold range), accumulation here
  *    covers all evidence ≤ year; only the *output* rows are limited
  *    to the calendar range.
  *
  * Undated evidence (null year) is carried through a surrogate year
  * (lastYear+1) and reset to NULL on output, like the reference.
  * Score is NULL until the first evidence accumulates.
  */
object AssociationScore {

  private val PairKeys = Seq("diseaseId", "targetId")
  private def keyCols(ks: Seq[String]): Seq[Column] = ks.map(col)

  /** Per-datasource cumulative score. Input: evidence
    * (diseaseId, targetId, datasourceId, score, year?). Output one row
    * per (pair, datasource, calendar year ∪ surrogate): diseaseId,
    * targetId, datasourceId, year (null ⇒ undated bucket), score.
    */
  def byDatasource(
      evidence: DataFrame,
      firstYear: Int = GraftConf.FirstYear,
      lastYear: Int = GraftConf.LastYear,
      topK: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): DataFrame =
    cumulative(evidence, PairKeys :+ "datasourceId", firstYear, lastYear, topK, maxScore)

  /** Overall score: weight the per-datasource dense scores, then one
    * harmonic sum across sources per (pair, year). The input is already
    * dense per source, so no re-accumulation is needed — matches the
    * reference (timeseries.py:688–731).
    */
  def overall(
      byDatasourceScores: DataFrame,
      weights: DataFrame,
      lastYear: Int = GraftConf.LastYear,
      topK: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): DataFrame = {
    val surrogate = lastYear + 1
    byDatasourceScores
      .withColumn("year", coalesce(col("year"), lit(surrogate)))
      .join(broadcast(weights), Seq("datasourceId"), "left")
      .withColumn("wscore", col("score") * col("weight"))
      .groupBy((keyCols(PairKeys) :+ col("year")): _*)
      .agg(collect_list("wscore").as("scores"))
      .withColumn("score", harmonicScore(col("scores"), topK, maxScore))
      .withColumn("year", when(col("year") === surrogate, lit(null)).otherwise(col("year")))
      .select("diseaseId", "targetId", "year", "score")
  }

  private def cumulative(
      evidence: DataFrame,
      keys: Seq[String],
      firstYear: Int,
      lastYear: Int,
      topK: Int,
      maxScore: Double): DataFrame = {
    val surrogate = lastYear + 1
    // spread: a coarse upstream layout (single row group locally; a
    // skewed producer at scale) would serialize the map-side
    // collect_list partial aggregation below — no-op when the scan is
    // already parallel.
    val dated = spread(evidence)
      .withColumn("year", coalesce(col("year").cast("int"), lit(surrogate)))

    // (pair, source, active year) grain — map-side combined with
    // BOUNDED O(K) aggregation state: only the year's top-K scores can
    // contribute to any cumulative top-K downstream (top-K of a union
    // = top-K of the union of per-year top-Ks), so collect_list's
    // O(evidence-per-year) buffers are never materialized.
    //
    // The combined active-grain rows are then repartitioned ONCE by the
    // PAIR keys (guide §2.4: operations keyed the same way share one
    // exchange): HashPartitioning(pair) satisfies ClusteredDistribution
    // for every downstream stage of the scoring chain — this window
    // (pair, source[, …]), the densify lead/lag, overall's
    // (pair, year) aggregate, novelty/peaks/timeline/anomaly windows
    // (pair[, source]) — so the dense (post-explode) rows, which
    // outnumber the active rows at every scale, never ride an exchange
    // again. Without it each stage re-exchanges at its own grain
    // (4 exchanges across byDatasource→overall→novelty; now 2, and the
    // two that remain carry only compacted active-grain rows). The
    // width is pinned to the session's shuffle partitions (cores on
    // local[N], set by the deployer on a cluster), so AQE does not
    // coalesce it: its compact active rows undercount the work behind
    // it by the calendar span — each fans out to every year of its
    // segment fill, then overall's (pair, year) aggregate and the
    // novelty windows — and a byte-sized merge ran all of that in one
    // task. At scale its partitions exceed AQE's advisory size anyway.
    val perYear = dated
      .groupBy((keyCols(keys) :+ col("year")): _*)
      .agg(graft.functions.TopKCollect.topKCollect(col("score"), topK).as("yrScores"))
      .repartition(dated.sparkSession.sessionState.conf.numShufflePartitions,
        keyCols(PairKeys): _*)

    // Cumulative harmonic score per active year via the O(K)-state
    // top-K window aggregate: the growing frame feeds each year's
    // scores into a bounded heap exactly once — the cumulative score
    // multiset is never materialized (that would be O(evidence-per-
    // pair) per row and quadratic across years). Years are unique per
    // key after the groupBy, so a rows frame is exact.
    val cumWin = Window
      .partitionBy(keyCols(keys): _*)
      .orderBy("year")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val active = perYear
      .withColumn("score",
        graft.functions.TopKHarmonic.topKHarmonic(col("yrScores"), topK, maxScore)
          .over(cumWin))
      .select(keys.map(col) :+ col("year") :+ col("score"): _*)

    // Densify via segment fill, not a scaffold join: each active year
    // carries its score forward to the year before the key's next
    // active year (lead), and the key's first active row also emits the
    // leading null-score calendar years (lag = null). The lead/lag
    // window has the same partitioning+ordering as the cumulative
    // window above, so this adds NO exchange — and there is no second
    // evidence scan, no distinct-pairs aggregate, and no full-outer
    // join, which the scaffold formulation all required.
    val orderWin = Window.partitionBy(keyCols(keys): _*).orderBy("activeYear")
    active
      .withColumnRenamed("year", "activeYear")
      .withColumn("fillEnd",
        coalesce(lead("activeYear", 1).over(orderWin) - 1, lit(surrogate)))
      .withColumn("fillStart",
        when(lag("activeYear", 1).over(orderWin).isNull,
          least(col("activeYear"), lit(firstYear)))
          .otherwise(col("activeYear")))
      // guard: sequence(a, b) with a > b counts DOWN in Spark; an empty
      // array (dropped by explode) is what "nothing to fill" means here
      .withColumn("year",
        explode(when(col("fillStart") <= col("fillEnd"),
          sequence(col("fillStart"), col("fillEnd")))
          .otherwise(array().cast("array<int>"))))
      .withColumn("score",
        when(col("year") < col("activeYear"), lit(null).cast("double"))
          .otherwise(col("score")))
      .filter(col("year").between(firstYear, surrogate))
      .withColumn("year", when(col("year") === surrogate, lit(null)).otherwise(col("year")))
      .select((keyCols(keys) :+ col("year") :+ col("score")): _*)
  }
}
