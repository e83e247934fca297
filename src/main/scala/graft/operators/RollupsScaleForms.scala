package graft.operators

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Shared primitives of the stats family (`Rollups*`): the cents
  * quantizer, the two-group value grain and its scale guard, doubled
  * midranks and the tie cube — the pieces every rank and two-sample
  * test is built from — plus the reusable scale-safe rewrite forms for
  * the two plan classes the sf1 decade bench caught as super-linear
  * instances (q12's window-attach chain ending in distinct, 33× wall
  * for 10× data; q13's multi-distinct Expand, 52×).
  * `graft.plans.PlanLint` statically flags both source shapes in
  * every registered query's plan.
  */
private[operators] trait RollupsScaleForms {

  /** A metric quantized to integer cents (Spark's half-up round; the
    * oracles mirror it as `CAST(round(x * 100) AS BIGINT)`).
    */
  private[operators] def cents(c: Column): Column = round(c * 100).cast("long")

  /** The value order of a [[twoGroupGrain]] table, and its cumulative
    * frame (each value's running per-group counts).
    */
  private[operators] def byValue: WindowSpec = Window.orderBy("v")
  private[operators] def cumRows: WindowSpec =
    byValue.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The two-sample tests' value grain: rows of group `a` or `b` with a
    * non-null metric, quantized to integer cents and collapsed to one
    * row per value — (v, c1, c2), each group's count at v, map-side
    * combined. The table feeds a value-ordered window AND the
    * totals, so one eager cut keeps the corpus at ONE scan. Its size
    * is the metric's value range, never the corpus rows: guard every
    * window over it with [[grainGuarded]].
    */
  private[operators] def twoGroupGrain(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(groupCol).isin(a, b))
      .groupBy(cents(col(valueCol)).as("v"))
      .agg(
        sum(when(col(groupCol) === a, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol) === b, 1L).otherwise(0L)).as("c2"))
      .localCheckpoint()

  /** Loud scale guard for the partitionless value-grain window family
    * ([[twoGroupGrain]] tests, the k-group rank tests, Gini): each
    * collapses the corpus to distinct quantized values before a
    * single-partition window, which is safe only while the VALUE
    * RANGE is bounded. A row_number riding the SAME sort the window
    * needs (no extra exchange, no extra job) raises past
    * [[GraftConf.ValueGrainCap]] with the operator's name, so an
    * unbounded metric fails instead of silently materializing a
    * billion-row single-task sort. Under the cap the filter keeps
    * every row — results untouched.
    */
  private[operators] def grainGuarded(
      pts: DataFrame,
      ordered: WindowSpec,
      op: String): DataFrame = {
    val cap = GraftConf.ValueGrainCap
    pts
      .withColumn("__gg",
        when(row_number().over(ordered) > cap,
          raise_error(lit(s"graft.$op: distinct-value grain exceeds " +
            s"ValueGrainCap=$cap — quantize or bucket the metric upstream")))
          .otherwise(lit(0)))
      .filter(col("__gg") === 0).drop("__gg")
  }

  /** Pooled tie count of each row of a value-grain table: Σ`n` over the
    * row's value peers in `ord` (`n` weights a row — its count at the
    * value; `lit(1L)` when every row is one observation).
    */
  private[operators] def tieCount(ord: WindowSpec, n: Column): Column =
    sum(n).over(ord.rangeBetween(Window.currentRow, Window.currentRow))

  /** Doubled midrank at value grain: 2·rank + t − 1 = 2·#below + t + 1,
    * twice the average rank of the row's value, as an exact long (the
    * half never appears). `ord` orders the values (unframed, within
    * its partitions), `n` weights a row as in [[tieCount]], and `t` is
    * the row's pooled tie count.
    */
  private[operators] def midrank2(ord: WindowSpec, n: Column, t: Column): Column =
    lit(2L) * coalesce(sum(n).over(ord.rangeBetween(Window.unboundedPreceding, -1)),
      lit(0L)) + t + 1L

  /** Doubled midrank at row grain: 2·rank() + peers − 1 of `v` within
    * `keys`, where every row is one observation.
    */
  private[operators] def rowMidrank2(keys: Seq[Column], v: Column): Column =
    lit(2L) * rank().over(Window.partitionBy(keys: _*).orderBy(v)) +
      count(lit(1)).over(Window.partitionBy(keys :+ v: _*)) - 1L

  /** The repeated-measures rank frame (friedman, kendallW, pageTrend):
    * row counts per (block b, treatment g) cell, zero-filled over the
    * dense block × treatment cross (a treatment absent from a block
    * measured zero there), ranked within each block — `cnt`, its tie
    * count `__t` and doubled midrank `__r2`. Both grains are
    * dim-bounded; ranks are per-block partitions, never a
    * single-task stage. Eager-cut: it feeds a treatment rollup and a
    * tie or block rollup.
    */
  private[operators] def blockMidranks(
      df: DataFrame,
      blockCol: Column,
      treatCol: Column): DataFrame = {
    val cells = df
      .groupBy(blockCol.as("b"), treatCol.as("g"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val w = Window.partitionBy("b").orderBy("cnt")
    cells.select("b").distinct()
      .crossJoin(broadcast(cells.select("g").distinct()))
      .join(cells, Seq("b", "g"), "left")
      .select(col("b"), col("g"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("__t", tieCount(w, lit(1L)))
      .withColumn("__r2", midrank2(w, lit(1L), col("__t")))
      .localCheckpoint()
  }

  /** The rank tests' tie correction Σ(t³ − t) over tie groups of size
    * `t`, in decimal(38,0): t³ leaves long range at ~2.1M ties of one
    * value, which a low-cardinality metric reaches on a big corpus.
    * 0 when there are no rows.
    */
  private[operators] def tieCube(t: Column): Column =
    coalesce(sum(dec(t) * t * t - t), dec(lit(0)))

  /** Scale-safe form of the "window-attach chain ending in .distinct()"
    * shape: each attachment is a map-side-combined aggregate at its own
    * key grain, joined back at the collapsed output grain. The window
    * form sorts the FULL data grain inside fixed-width partitions
    * before collapsing (the q12 sf1 catch: 33x wall for 10x data);
    * this form only ever shuffles collapsed grains. Attachments whose
    * keys equal `grain` become the base aggregate (no extra distinct).
    * Keep `attachWindowAgg` for chains that do NOT collapse afterwards.
    */
  def keyGrainAttach(
      df: DataFrame,
      grain: Seq[String],
      attachments: Seq[(Seq[String], Seq[Column])]): DataFrame = {
    val (atGrain, others) = attachments.partition(_._1.toSet == grain.toSet)
    val base =
      if (atGrain.nonEmpty) {
        val aggs = atGrain.flatMap(_._2)
        df.groupBy(grain.map(col): _*).agg(aggs.head, aggs.tail: _*)
      } else df.select(grain.map(col): _*).distinct()
    others.foldLeft(base) { case (acc, (keys, aggs)) =>
      acc.join(df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*), keys)
    }
  }

  /** Two nested distinct-counts per group WITHOUT the Expand: Spark
    * plans N distinct aggregates in one Aggregate as an N-way row
    * Expand (the q13 sf1 catch: 52x wall for 10x data). Collapse to
    * the distinct (group, key, extra) tuple once — map-side partial
    * dedup — then count at (group, key) grain and roll up, so
    * `keyOut` = distinct key tuples and `pairOut` = distinct
    * (key, extra) tuples per group, with every shuffle on an
    * already-collapsed grain. Null keys count as a group of their own
    * (tuple semantics, not count(DISTINCT)'s null-dropping — mirror
    * the same tuple-distinct cascade in any oracle).
    */
  def distinctCascade(
      df: DataFrame,
      groupCols: Seq[String],
      keyCols: Seq[String],
      extraCols: Seq[String],
      keyOut: String,
      pairOut: String): DataFrame =
    df.select((groupCols ++ keyCols ++ extraCols).map(col): _*).distinct()
      .groupBy((groupCols ++ keyCols).map(col): _*)
      .agg(count(lit(1)).as("__subn"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(keyOut), sum("__subn").as(pairOut))
}
