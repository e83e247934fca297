package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data profiling (the ANALYZE/quality-report primitive of ingestion
  * pipelines): per-column null counts, exact distinct cardinalities,
  * and numeric ranges for any set of columns — in ONE scan.
  *
  * Scale shape: all metrics fold into a single aggregate node (the
  * multi-distinct rewrite plans one Expand over the scan — columns ×
  * rows map-side, no per-column rescans), then the 1-row wide result
  * unpivots driver-cheaply through `stack`. Profiling N columns costs
  * one pass over the table regardless of N.
  */
object Profile {

  /** Long-format numeric profile: (col, n_null, n_distinct, min_v,
    * max_v) per requested column.
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("double").as(s"${c}__mn"),
        max(col(c)).cast("double").as(s"${c}__mx"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', ${c}__nn, ${c}__nd, round(${c}__mn, 4), round(${c}__mx, 4)"
    }.mkString(", ")
    one.select(expr(
      s"stack(${cols.length}, $stackArgs) as (col, n_null, n_distinct, min_v, max_v)"))
  }

  /** Declarative constraint audit — the data-contract gate of a
    * recurring ingest: one row per constraint with its violation
    * count. Constraints: primary-key uniqueness (surplus copies
    * beyond the first), NOT NULL per column, referential integrity
    * per (fkCol → dim.key), and numeric [lo, hi] ranges.
    *
    * Scale shape: all null/range checks AND the row count fold into
    * ONE aggregate scan (the [[numericProfile]] pattern); PK
    * duplication is one map-side-combined groupBy; each FK check is
    * one anti-join against the DISTINCT dim keys (broadcast when the
    * dim is small, shuffled hash otherwise — AQE's call). Nothing is
    * collected; the result is a constraint-count dim table.
    */
  def constraintAudit(
      df: DataFrame,
      pkCols: Seq[String],
      notNullCols: Seq[String] = Nil,
      fks: Seq[(String, DataFrame, String)] = Nil,
      ranges: Seq[(String, Double, Double)] = Nil): DataFrame = {
    require(pkCols.nonEmpty, "audit needs a primary key")
    val nullAggs = notNullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"))
    val rangeAggs = ranges.map { case (c, lo, hi) =>
      sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L))
        .as(s"__rg_$c")
    }
    val aggs = count(lit(1)).as("__n") +: (nullAggs ++ rangeAggs)
    val scanStack =
      (Seq(s"'row_count', __n") ++
        notNullCols.map(c => s"'not_null($c)', __nn_$c") ++
        ranges.map { case (c, lo, hi) => s"'range($c in [$lo,$hi])', __rg_$c" })
        .mkString(", ")
    val scanChecks = df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${1 + notNullCols.size + ranges.size}, $scanStack)" +
        " as (constraint, n_violations)"))
    val pkCheck = df.groupBy(pkCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c") - 1L), lit(0L)).as("n_violations"))
      .select(lit(s"pk_unique(${pkCols.mkString(",")})").as("constraint"),
        col("n_violations"))
    val fkChecks = fks.map { case (fkCol, dim, dimKey) =>
      df.select(col(fkCol))
        .join(dim.select(col(dimKey).as(fkCol)).distinct(), Seq(fkCol), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(s"fk($fkCol -> $dimKey)").as("constraint"),
          col("n_violations"))
    }
    (scanChecks +: pkCheck +: fkChecks).reduce(_.unionByName(_))
  }

  /** Benford first-digit audit — the fraud/synthetic-data detector
    * (Benford 1938; Nigrini's forensic-accounting staple): naturally
    * occurring multiplicative quantities put digit d first with
    * probability log₁₀(1+1/d); fabricated or uniformly-generated
    * numbers don't. Reports per-digit observed vs expected shares and
    * the χ² distance.
    *
    * Determinism: the first digit is read from the DECIMAL STRING of
    * the positive integer-cent value (leading digit of an integer is
    * engine-exact; float log10-based extraction is not). One map-side
    * combine to the NINE-row digit table; everything after is
    * windows over those nine rows. χ² contributions rounded 6dp
    * before the 4dp total (the F20/F22 contract).
    *
    * Output: (digit, n, p_obs, p_exp, contrib, chi2).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    df.filter(col(valueCol).isNotNull && cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("__total", sum(col("n")).over(all))
      .withColumn("p_obs", round(d(col("n")) / col("__total"), 4))
      .withColumn("p_exp", round(log10(lit(1.0) + lit(1.0) / col("digit")), 4))
      .withColumn("__e", d(col("__total")) * log10(lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("contrib",
        round((d(col("n")) - col("__e")) * (d(col("n")) - col("__e")) / col("__e"), 6))
      .withColumn("chi2", round(sum(col("contrib")).over(all), 4))
      .select(col("digit"), col("n"), col("p_obs"), col("p_exp"),
        col("contrib"), col("chi2"))
  }

  /** Population Stability Index — the model-monitoring drift staple:
    * bin the CURRENT distribution by the REFERENCE distribution's
    * deciles and score Σ(p_ref−p_cur)·ln(p_ref/p_cur). Rule of thumb
    * PSI < 0.1 stable, > 0.25 shifted — the scalar that gates "did
    * the serving distribution leave the training distribution?"
    * before F25's KS even asks about shape.
    *
    * Determinism: values quantize to integer cents; the nine decile
    * boundaries come from ONE reference-side interpolated-percentile
    * aggregate ROUNDED 4dp (the F14 winsorize contract — both
    * engines bin against the same published thresholds); bin index =
    * Σ(v > bᵢ) over the broadcast one-row boundary array, an exact
    * integer-vs-4dp compare. Shares are exact count ratios over the
    * ≤10-row bin table; each contribution is one double expression
    * rounded 6dp, the PSI their 4dp window total (the F20 contract).
    * A bin empty on either side contributes NULL (reported, excluded
    * from the total) rather than an invented ε.
    *
    * Scale shape: one corpus scan for the boundaries (reference rows
    * only), one for the binning — each a map-side-combined aggregate;
    * the boundary frame is a one-row broadcast; every window rides
    * the bin table. Output: (bin, n_ref, n_cur, p_ref, p_cur,
    * contrib, psi), one row per occupied bin.
    */
  /** Approximate functional-dependency audit (I36) — for each
    * candidate determinant→dependent pair, does lhs functionally
    * determine rhs, and if not, how many keys violate it? The
    * profiling step that discovers which columns are safe join/
    * partition keys, which "id" columns secretly collide, and which
    * denormalized attributes drifted (a violating o_custkey→segment
    * FD means the same customer carries two segments — an upstream
    * merge bug). Exact counts, not sampling.
    *
    * Scale shape: per candidate, ONE (lhs) combine carrying a
    * distinct-rhs count (partial-aggregated map-side), then a one-row
    * reduce; candidates are a fixed small list, so the union is
    * dim-sized. Nulls: a null lhs is its own key; null rhs values
    * are ignored by the distinct count (both mirrored in SQL).
    *
    * Output: one row per candidate (lhs, rhs, n_keys, n_pairs,
    * n_violating, holds, violation_share).
    */
  def fdAudit(df: DataFrame, candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty)
    candidates.map { case (l, r) =>
      df.groupBy(col(l)).agg(countDistinct(col(r)).as("__d"))
        .agg(count(lit(1)).as("n_keys"), sum("__d").as("n_pairs"),
          sum(when(col("__d") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(l).as("lhs"), lit(r).as("rhs"), col("n_keys"),
          col("n_pairs"), col("n_violating"),
          (col("n_violating") === 0L).as("holds"),
          round(col("n_violating").cast("double") /
            col("n_keys").cast("double"), 4).as("violation_share"))
    }.reduce(_ unionByName _)
  }

  def psi(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      refGroup: String,
      curGroup: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val rows = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(refGroup, curGroup))
      .select(cents.as("__v"), (col(groupCol) === refGroup).as("__ref"))
    val bounds = rows.filter(col("__ref"))
      .agg(percentile(col("__v"),
        typedLit((1 to 9).map(_ / 10.0))).as("__p"))
      .select(transform(col("__p"), b => round(b, 4)).as("__bs"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    rows.crossJoin(broadcast(bounds))
      .withColumn("__bin",
        aggregate(col("__bs"), lit(0),
          (acc, b) => acc + when(col("__v") > b, 1).otherwise(0)))
      .groupBy(col("__bin").cast("long").as("bin"))
      .agg(
        sum(when(col("__ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("__ref"), 1L).otherwise(0L)).as("n_cur"))
      .withColumn("__tr", sum(col("n_ref")).over(all))
      .withColumn("__tc", sum(col("n_cur")).over(all))
      .withColumn("__pr", d(col("n_ref")) / col("__tr"))
      .withColumn("__pc", d(col("n_cur")) / col("__tc"))
      .withColumn("contrib",
        when(col("n_ref") === 0 || col("n_cur") === 0, lit(null))
          .otherwise(round((col("__pr") - col("__pc")) *
            log(col("__pr") / col("__pc")), 6)))
      .withColumn("psi", round(sum(col("contrib")).over(all), 4))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("__pr"), 4).as("p_ref"), round(col("__pc"), 4).as("p_cur"),
        col("contrib"), col("psi"))
  }

  /** Mergeable moments state (I39) — the power-sum sketch
    * [n, Σx, Σx², Σx³, Σx⁴] per fine group, rolled up to coarse grain
    * by ONE elementwise vector_sum (power sums are the original
    * mergeable sketch: any rollup path equals the direct computation
    * EXACTLY, not approximately — the I16/I18/I19 store-and-merge
    * family's exact member for distribution SHAPE). From the merged
    * state: mean, sd, skewness g₁ = m₃/m₂^{3/2}, excess kurtosis
    * g₂ = m₄/m₂² − 3 — the two numbers that say whether a slice's
    * length/score distribution is long-tailed before any sampling
    * decision trusts a mean.
    *
    * Exactness: x is integer-valued; all five sums are exact longs
    * (x⁴·n must clear long range — fine for byte/char/count-scale
    * metrics; quantize wider metrics down first); central-moment
    * NUMERATORS are exact decimal(38,0) multiply-throughs
    * (N₂ = nΣx²−(Σx)², N₃ = n²Σx³−3nΣxΣx²+2(Σx)³,
    * N₄ = n³Σx⁴−4n²Σx³Σx+6n(Σx)²Σx²−3(Σx)⁴ — (Σx)⁴ clears
    * decimal(38) through ~10⁹ rows of char-scale values); the final
    * stats are written-order doubles, 4dp.
    *
    * Output: rollKeys ++ (n_groups, n, mean, sd, skewness,
    * kurtosis_ex) — shape stats null when the slice is constant.
    */
  def momentsRollup(
      df: DataFrame,
      fineKeys: Seq[String],
      rollKeys: Seq[String],
      valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val x = valueCol.cast("long")
    val vec = array(lit(1L), x, x * x, x * x * x, x * x * x * x)
    val fine = df.groupBy(fineKeys.map(col): _*)
      .agg(graft.functions.VectorSum.vectorSum(vec).as("st"))
    val rolled = fine.groupBy(rollKeys.map(col): _*)
      .agg(count(lit(1)).as("n_groups"),
        graft.functions.VectorSum.vectorSum(col("st")).as("st"))
    val c0 = col("st")(0).cast(dec)
    val c1 = col("st")(1).cast(dec)
    val c2 = col("st")(2).cast(dec)
    val c3 = col("st")(3).cast(dec)
    val c4 = col("st")(4).cast(dec)
    rolled
      .withColumn("__n2", c0 * c2 - c1 * c1)
      .withColumn("__n3",
        c0 * c0 * c3 - lit(3) * c0 * c1 * c2 + lit(2) * c1 * c1 * c1)
      .withColumn("__n4",
        c0 * c0 * c0 * c4 - lit(4) * c0 * c0 * c3 * c1 +
          lit(6) * c0 * c1 * c1 * c2 - lit(3) * c1 * c1 * c1 * c1)
      .withColumn("__dn", d(col("st")(0)))
      .withColumn("__m2", d(col("__n2")) / (col("__dn") * col("__dn")))
      .withColumn("__m3",
        d(col("__n3")) / (col("__dn") * col("__dn") * col("__dn")))
      .withColumn("__m4",
        d(col("__n4")) /
          (col("__dn") * col("__dn") * col("__dn") * col("__dn")))
      .select(rollKeys.map(col) ++ Seq(
        col("n_groups"), col("st")(0).as("n"),
        round(d(col("st")(1)) / col("__dn"), 4).as("mean"),
        round(when(col("__m2") > 0, sqrt(col("__m2"))).otherwise(lit(0.0)), 4)
          .as("sd"),
        round(when(col("__m2") > 0,
          col("__m3") / (col("__m2") * sqrt(col("__m2")))), 4).as("skewness"),
        round(when(col("__m2") > 0,
          col("__m4") / (col("__m2") * col("__m2")) - lit(3.0)), 4)
          .as("kurtosis_ex")): _*)
  }
}
