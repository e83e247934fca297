package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomization-inference / experimentation rollups split out of
  * [[Rollups]] (pure move — VERDICT r12 shard hygiene): permutation
  * and trimmed tests, effect heterogeneity, CUPED, delta-method ratio
  * metrics, Tukey–Kramer, empirical-Bayes shrinkage, and the mSPRT
  * always-valid family. Mixed into the `Rollups` object, so every
  * call site and registry entry is unchanged.
  */
private[operators] trait RollupsInference extends RollupsScaleForms {
  /** Randomization (permutation) test for an A/B mean difference —
    * the assumption-free p-value: relabel every row's arm by a
    * seeded md5 coin `reps` times, and p = (1 + #{|d_perm| ≥
    * |d_obs|})/(reps+1) (the add-one estimator; Fisher's exact
    * randomization logic with Monte-Carlo relabels). The
    * distribution-free cross-check when F31's normality or F27's
    * ordinal framing is in doubt.
    *
    * Determinism: the relabel coin is the F18 md5-threshold draw —
    * both engines replay the identical 24-bit integer comparison per
    * (row, rep); per-rep diffs are single divisions of exact cent
    * sums, compared to the observed diff at 6dp. The rep fan-out is
    * absorbed by the (rep) combine — reps × O(1) states shuffle,
    * never data copies.
    *
    * Output: one row (n_a, n_b, diff, n_reps, p_value).
    */
  /** Cochran–Armitage trend test — does a BINARY outcome rate trend
    * linearly across an a-priori ordered factor (dose tiers, priority
    * levels, cohort age)? The proportions companion of
    * [[jonckheereTerpstra]]'s continuous-metric test: with integer
    * scores w_i = 1..G, T = Σ w_i·(r_i·N − n_i·R) (r_i successes of
    * n_i in group i; R, N the totals) and
    * Var(T) = R·(N−R)·(N·Σw_i²n_i − (Σw_i n_i)²) / N, z = T/√Var.
    * This multiplied-through form keeps EVERYTHING integer until the
    * final ratio — no per-group proportions, no p̄ rounding.
    *
    * Scale shape: ONE conditional map-side combine to the G-row group
    * table, then a one-row reduce. Sums in decimal(38,0): w·r·N
    * passes long range at corpus N.
    *
    * Output: one row (n, successes, z 4dp; z > 0 means the success
    * rate increases along the given order).
    */
  def cochranArmitage(
      df: DataFrame,
      groupCol: String,
      successCol: Column,
      ordered: Seq[String]): DataFrame = {
    val G = ordered.size
    require(G >= 2, s"need >= 2 ordered groups, got $G")
    val score = ordered.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (g, i)) => when(col(groupCol) === g, lit(i + 1)).otherwise(acc)
    }
    df.filter(col(groupCol).isin(ordered: _*))
      .select(score.as("__w"), when(successCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__r"))
      .agg(
        sum(col("__n")).as("n"), sum(col("__r")).as("successes"),
        sum(dec(col("__w")) * col("__n")).as("__wn"),
        sum(dec(col("__w")) * col("__w") * col("__n")).as("__wwn"),
        sum(dec(col("__w")) * col("__r")).as("__wr"))
      .withColumn("__t",
        col("__wr") * col("n") - col("__wn") * col("successes"))
      .withColumn("__var",
        d(col("successes")) * (d(col("n")) - d(col("successes"))) *
          (d(col("n")) * d(col("__wwn")) - d(col("__wn")) * d(col("__wn")))
          / d(col("n")))
      .select(col("n"), col("successes"),
        when(col("__var") > 0,
          round(d(col("__t")) / sqrt(col("__var")), 4)).as("z"))
  }

  /** Jonckheere–Terpstra ordered-alternative test — is the metric
    * MONOTONE across an a-priori ORDERED factor (priority levels,
    * dose tiers, app versions)? Strictly sharper than Kruskal–Wallis
    * (F63) when the ordering is known: JT = Σ_{i<j} U_ij over ordered
    * group pairs, each U_ij the Mann–Whitney count #(x_i < x_j) with
    * ties counted half. Published DOUBLED (jt2) so the tie-halves
    * stay exact integers; z uses the standard no-tie null moments
    * E = (N²−Σn_k²)/4, Var = [N²(2N+3) − Σn_k²(2n_k+3)]/72 (cent
    * quantization keeps real ties rare; the statistic itself counts
    * them exactly).
    *
    * Scale shape: the F25 ksTest contract generalized to G groups —
    * one value-grain collapse to integer cents with per-group
    * conditional counts (map-side combined, grain-guarded), one
    * cumulative window over the bounded value domain for the G CDFs,
    * then the G(G−1)/2 pair cross-products row-locally and one
    * one-row reduce. Pair work is O(V·G²) with V value-grain — never
    * an O(N²) pair expansion. Sums in decimal(38,0): c_i·(n_j−F_j)
    * passes long range at corpus N.
    *
    * Output: one row (n, jt 1dp — the .5s are tie halves, z 4dp;
    * z > 0 means the metric increases along the given order).
    */
  def jonckheereTerpstra(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ordered: Seq[String]): DataFrame = {
    val G = ordered.size
    require(G >= 2, s"need >= 2 ordered groups, got $G")
    val pts = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(ordered: _*))
      .groupBy(cents(col(valueCol)).as("v"))
      .agg(ordered.zipWithIndex.map { case (g, i) =>
        sum(when(col(groupCol) === g, 1L).otherwise(0L)).as(s"c${i + 1}")
      }.head, ordered.zipWithIndex.tail.map { case (g, i) =>
        sum(when(col(groupCol) === g, 1L).otherwise(0L)).as(s"c${i + 1}")
      }: _*)
      .localCheckpoint() // feeds the CDF window AND the totals
    val totals = pts.agg(
      sum(col("c1")).as("n1"),
      (2 to G).map(i => sum(col(s"c$i")).as(s"n$i")): _*)
    var t = grainGuarded(pts, cumRows, "jonckheereTerpstra")
    for (i <- 1 to G) t = t.withColumn(s"f$i", sum(col(s"c$i")).over(cumRows))
    // doubled per-row contribution: Σ_{i<j} 2·c_i·(n_j − F_j) + c_i·c_j
    val rowTerm = (for { i <- 1 to G; j <- (i + 1) to G } yield
      dec(col(s"c$i")) * (col(s"n$j") - col(s"f$j")) * 2 +
        dec(col(s"c$i")) * col(s"c$j")).reduce(_ + _)
    val nSum = (1 to G).map(i => col(s"n$i")).reduce(_ + _)
    val sqSum = (1 to G).map(i => dec(col(s"n$i")) * col(s"n$i"))
      .reduce(_ + _)
    val varSum = (1 to G).map(i =>
      d(col(s"n$i")) * d(col(s"n$i")) * (lit(2.0) * d(col(s"n$i")) + 3))
      .reduce(_ + _)
    t.crossJoin(broadcast(totals))
      .groupBy((1 to G).map(i => col(s"n$i")): _*)
      .agg(sum(rowTerm).as("__jt2"))
      .withColumn("n", nSum.cast("long"))
      .withColumn("__e2", dec(col("n")) * col("n") - sqSum)
      .withColumn("__var",
        (d(col("n")) * d(col("n")) * (lit(2.0) * d(col("n")) + 3) - varSum)
          / 72.0)
      .select(col("n"),
        round(d(col("__jt2")) / 2, 1).as("jt"),
        // jt2 = 2·JT and e2 = 4·E, so (jt2 − e2/2)/2 = JT − E
        round((d(col("__jt2")) - d(col("__e2")) / 2) / 2
          / sqrt(col("__var")), 4).as("z"))
  }

  def permutationDiffTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      armA: String,
      armB: String,
      idCol: String,
      reps: Int = 64,
      salt: String = "perm"): DataFrame = {
    require(reps > 0)
    // spread(): the md5-heavy scan must not run on the driver tables'
    // 1-2 parquet splits (the q173 single-task measurement, r16).
    val rows = graft.operators.spread(df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull &&
        col(groupCol).isin(armA, armB))
      .select((col(groupCol) === armB).as("__b"), cents(col(valueCol)).as("__c"),
        col(idCol).cast("string").as("__id")))
    // r17 (guide §2.3/§4): ONE aggregate pass replaces the ×reps
    // explode + separate observed-diff pass. RepWeightVec with the
    // single threshold 2²³ emits per rep [w·cents, w] where w = 1 iff
    // the md5 coin is NOT heads (bucket ≥ 2²³) — exactly the rows the
    // old chain assigned to permuted arm B — so per rep
    // nb = Σw, psb = Σw·c and the arm-A figures are the totals minus
    // them. The checkpoint moves from edge-grain rows (r16) to the
    // ONE-ROW aggregate: the observed and permuted branches prune it
    // differently, so without the cut each would re-run the md5 pass.
    val st = rows
      .withColumn("_v", graft.functions.RepWeightVec.repWeightVec(
        col("__id"), col("__c"), ":" + salt + ":", reps, Seq(8388608L)))
      .agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__b"), col("__c")).otherwise(0L)).as("__sa"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__b"), col("__c")).otherwise(0L)).as("__sb"),
        graft.functions.VectorSum.vectorSum(col("_v")).as("_st"))
      .localCheckpoint()
    val obs = st.filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("__obs", round(
        d(col("__sb")) / col("n_b") - d(col("__sa")) / col("n_a"), 6))
    val perms = obs
      .select(col("__obs"),
        (col("n_a") + col("n_b")).as("__n"),
        (col("__sa") + col("__sb")).as("__s"),
        explode(transform(
          sequence(lit(0), lit(reps - 1)),
          r => struct(
            element_at(col("_st"), r + 1).as("__psb"),
            element_at(col("_st"), r + reps + 1).as("__nb")))).as("_r"))
      .select(col("__obs"),
        (col("__n") - col("_r.__nb")).as("__na"),
        (col("__s") - col("_r.__psb")).as("__psa"),
        col("_r.__nb").as("__nb"), col("_r.__psb").as("__psb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
      .select(col("__obs"), round(
        d(col("__psb")) / col("__nb") - d(col("__psa")) / col("__na"), 6)
        .as("__pd"))
    val tail = perms
      .agg(count(lit(1)).as("n_reps"),
        sum(when(abs(col("__pd")) >= abs(col("__obs")), 1L).otherwise(0L))
          .as("__ge"))
    obs.crossJoin(broadcast(tail))
      .select(col("n_a"), col("n_b"),
        round(col("__obs") / 100.0, 4).as("diff"), col("n_reps"),
        round(d(lit(1L) + col("__ge")) /
          (col("n_reps") + 1L), 4).as("p_value"))
  }

  /** Yuen's trimmed-mean A/B test (Yuen 1974) — the robust mean
    * comparison: trim each arm's tails past its own 4dp-published
    * quantile thresholds, compare TRIMMED means with WINSORIZED
    * variances and a Welch–Satterthwaite df. Outliers that wreck
    * F31's plain t leave this test alone; unlike F27 it still talks
    * in the metric's units.
    *
    * Determinism: trim thresholds are interpolated percentiles
    * rounded 4dp (the F14 contract, broadcast back); the trim rule
    * is the explicit lo < c < hi on integer cents and clamp for the
    * winsorized moments — tie handling is pinned by the rule, not by
    * row order. One threshold aggregate + one moment pass.
    *
    * Output: one row (h_a, h_b, tmean_a, tmean_b, t, df).
    */
  def yuenTrimmed(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      armA: String,
      armB: String,
      trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5)
    val rows = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(armA, armB))
      .select(col(groupCol).as("__g"), cents(col(valueCol)).as("__c"))
      .localCheckpoint()
    val th = rows.groupBy("__g")
      .agg(percentile(col("__c"), typedLit(Seq(trim, 1 - trim))).as("__p"))
      .select(col("__g"),
        round(element_at(col("__p"), 1), 4).as("__lo"),
        round(element_at(col("__p"), 2), 4).as("__hi"))
    def side(p: String, g: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"n_$p"),
      sum(when(col("__g") === g && d(col("__c")) > col("__lo") &&
        d(col("__c")) < col("__hi"), 1L).otherwise(0L)).as(s"h_$p"),
      sum(when(col("__g") === g && d(col("__c")) > col("__lo") &&
        d(col("__c")) < col("__hi"), col("__c")).otherwise(0L)).as(s"__ts_$p"),
      sum(when(col("__g") === g,
        least(greatest(d(col("__c")), col("__lo")), col("__hi")))
        .otherwise(0.0)).as(s"__ws_$p"),
      sum(when(col("__g") === g,
        least(greatest(d(col("__c")), col("__lo")), col("__hi")) *
          least(greatest(d(col("__c")), col("__lo")), col("__hi")))
        .otherwise(0.0)).as(s"__wq_$p"))
    val aggs = side("a", armA) ++ side("b", armB)
    def se2(p: String) = {
      val n = d(col(s"n_$p"))
      val h = d(col(s"h_$p"))
      val sw2 = (col(s"__wq_$p") - col(s"__ws_$p") * col(s"__ws_$p") / n) / (n - 1)
      (n - 1) * sw2 / (h * (h - 1))
    }
    rows.join(broadcast(th), Seq("__g"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("h_a") > 1 && col("h_b") > 1)
      .withColumn("__sea2", se2("a"))
      .withColumn("__seb2", se2("b"))
      .withColumn("__tma", d(col("__ts_a")) / col("h_a"))
      .withColumn("__tmb", d(col("__ts_b")) / col("h_b"))
      .select(col("h_a"), col("h_b"),
        round(col("__tma") / 100.0, 4).as("tmean_a"),
        round(col("__tmb") / 100.0, 4).as("tmean_b"),
        round((col("__tmb") - col("__tma")) /
          when(col("__sea2") + col("__seb2") <= 0, lit(null))
            .otherwise(sqrt(col("__sea2") + col("__seb2"))), 4).as("t"),
        round((col("__sea2") + col("__seb2")) * (col("__sea2") + col("__seb2")) /
          when(col("__sea2") + col("__seb2") <= 0, lit(null)).otherwise(
            col("__sea2") * col("__sea2") / (col("h_a") - 1) +
              col("__seb2") * col("__seb2") / (col("h_b") - 1)), 4).as("df"))
  }

  /** Effect heterogeneity across segments — Cochran's Q with I²
    * (Higgins & Thompson 2002): per segment, the A/B mean gap and
    * its Welch SE; then Q = Σ wᵢ(dᵢ − d̄_w)² with w = 1/se² asks
    * "is there ONE effect or many?". I² = max(0, (Q−k+1)/Q) is the
    * share of between-segment variance that is real heterogeneity.
    * The gate between "ship to everyone" and "segment the rollout".
    *
    * Exactness: per-segment moments are exact integer-cent sums in
    * one (segment, arm→columns) combine; gaps/SEs are the F31
    * doubles; per-segment Q contributions quantize to 6dp before
    * the segment-table sum (the F20 contract). Segment-table
    * windows only.
    *
    * Output: (segment, n_a, n_b, diff, se, q_contrib, q_stat, i2).
    */
  def effectHeterogeneity(
      df: DataFrame,
      segmentCol: String,
      groupCol: String,
      valueCol: String,
      armA: String,
      armB: String): DataFrame = {
    val x = dec(cents(col(valueCol)))
    val zero = dec(lit(0L))
    val all = Window.partitionBy()
    val seg = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(armA, armB))
      .groupBy(col(segmentCol).as("segment"))
      .agg(
        sum(when(col(groupCol) === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(groupCol) === armA, x).otherwise(zero)).as("__sa"),
        sum(when(col(groupCol) === armA, x * x).otherwise(zero)).as("__qa"),
        sum(when(col(groupCol) === armB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(groupCol) === armB, x).otherwise(zero)).as("__sb"),
        sum(when(col(groupCol) === armB, x * x).otherwise(zero)).as("__qb"))
      .filter(col("n_a") > 1 && col("n_b") > 1)
      .withColumn("__va",
        (d(col("__qa")) - d(col("__sa")) * d(col("__sa")) / col("n_a")) / (col("n_a") - 1))
      .withColumn("__vb",
        (d(col("__qb")) - d(col("__sb")) * d(col("__sb")) / col("n_b")) / (col("n_b") - 1))
      .withColumn("__d", d(col("__sb")) / col("n_b") - d(col("__sa")) / col("n_a"))
      .withColumn("__se2", col("__va") / col("n_a") + col("__vb") / col("n_b"))
      .filter(col("__se2") > 0)
      .withColumn("__w", lit(1.0) / col("__se2"))
    seg
      .withColumn("__dw",
        sum(col("__w") * col("__d")).over(all) / sum(col("__w")).over(all))
      .withColumn("q_contrib", round(
        col("__w") * (col("__d") - col("__dw")) * (col("__d") - col("__dw")), 6))
      .withColumn("q_stat", round(sum(col("q_contrib")).over(all), 4))
      .withColumn("__k", count(lit(1)).over(all))
      .withColumn("i2", round(greatest(lit(0.0),
        (col("q_stat") - (col("__k") - 1)) /
          when(col("q_stat") <= 0, lit(null)).otherwise(col("q_stat"))), 4))
      .select(col("segment"), col("n_a"), col("n_b"),
        round(col("__d") / 100.0, 4).as("diff"),
        round(sqrt(col("__se2")) / 100.0, 4).as("se"),
        col("q_contrib"), col("q_stat"), col("i2"))
  }

  /** CUPED-adjusted A/B mean test (Deng et al. 2013) — variance
    * reduction from a PRE-EXPERIMENT covariate: Y' = Y − θ(X − X̄)
    * with θ = cov(X,Y)/var(X) pooled across arms; the adjusted
    * Welch t tests the same effect with the pre-period variance
    * removed. The single highest-leverage trick an experimentation
    * platform ships — same data, tighter CI.
    *
    * Exactness: ONE aggregate carries all pooled and per-arm moments
    * as exact decimal(38,0) cent sums; θ, the adjusted means and
    * variances, and the Welch t are double expressions over those
    * exact sums in identical written order (adjusted second moments
    * via the algebraic expansion — no second data pass). Reported
    * var_reduction = 1 − var(Y')/var(Y) pooled.
    *
    * Output: one row (n_a, n_b, theta, diff_raw, diff_adj, t_raw,
    * t_adj, var_reduction).
    */
  def cuped(
      df: DataFrame,
      groupCol: String,
      metricCol: String,
      covariateCol: String,
      armA: String,
      armB: String): DataFrame = {
    val y = dec(cents(col(metricCol)))
    val x = dec(cents(col(covariateCol)))
    def arm(a: String, pfx: String) = Seq(
      sum(when(col(groupCol) === a, lit(1L)).otherwise(0L)).as(s"n_$pfx"),
      sum(when(col(groupCol) === a, y).otherwise(dec(lit(0L)))).as(s"__sy_$pfx"),
      sum(when(col(groupCol) === a, x).otherwise(dec(lit(0L)))).as(s"__sx_$pfx"),
      sum(when(col(groupCol) === a, y * y).otherwise(dec(lit(0L)))).as(s"__syy_$pfx"),
      sum(when(col(groupCol) === a, x * x).otherwise(dec(lit(0L)))).as(s"__sxx_$pfx"),
      sum(when(col(groupCol) === a, x * y).otherwise(dec(lit(0L)))).as(s"__sxy_$pfx"))
    val aggs = arm(armA, "a") ++ arm(armB, "b")
    val one = df
      .filter(col(metricCol).isNotNull && col(covariateCol).isNotNull &&
        col(groupCol).isin(armA, armB))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_a") > 1 && col("n_b") > 1)
    // pooled moments for θ and X̄
    val N = col("n_a") + col("n_b")
    val sx = d(col("__sx_a")) + d(col("__sx_b"))
    val sy = d(col("__sy_a")) + d(col("__sy_b"))
    val sxx = d(col("__sxx_a")) + d(col("__sxx_b"))
    val sxy = d(col("__sxy_a")) + d(col("__sxy_b"))
    val syy = d(col("__syy_a")) + d(col("__syy_b"))
    val varX = sxx - sx * sx / d(N)
    val covXY = sxy - sx * sy / d(N)
    val theta = covXY / varX
    // per-arm Var(Y − θX) = (Syy − 2θSxy + θ²Sxx − n(my−θmx)²)/(n−1)
    // — the algebraic expansion; no second data pass
    one
      .withColumn("__theta",
        when(varX === 0, lit(0.0)).otherwise(theta))
      .withColumn("__mya", d(col("__sy_a")) / d(col("n_a")))
      .withColumn("__mxa", d(col("__sx_a")) / d(col("n_a")))
      .withColumn("__myb", d(col("__sy_b")) / d(col("n_b")))
      .withColumn("__mxb", d(col("__sx_b")) / d(col("n_b")))
      .withColumn("__xbar", sx / d(N))
      .withColumn("__adja", col("__mya") - col("__theta") * (col("__mxa") - col("__xbar")))
      .withColumn("__adjb", col("__myb") - col("__theta") * (col("__mxb") - col("__xbar")))
      .withColumn("__vrawa",
        (d(col("__syy_a")) - d(col("n_a")) * col("__mya") * col("__mya")) / (col("n_a") - 1))
      .withColumn("__vrawb",
        (d(col("__syy_b")) - d(col("n_b")) * col("__myb") * col("__myb")) / (col("n_b") - 1))
      .withColumn("__vadja",
        (d(col("__syy_a")) - lit(2.0) * col("__theta") * d(col("__sxy_a")) +
          col("__theta") * col("__theta") * d(col("__sxx_a")) -
          d(col("n_a")) * (col("__mya") - col("__theta") * col("__mxa")) *
            (col("__mya") - col("__theta") * col("__mxa"))) / (col("n_a") - 1))
      .withColumn("__vadjb",
        (d(col("__syy_b")) - lit(2.0) * col("__theta") * d(col("__sxy_b")) +
          col("__theta") * col("__theta") * d(col("__sxx_b")) -
          d(col("n_b")) * (col("__myb") - col("__theta") * col("__mxb")) *
            (col("__myb") - col("__theta") * col("__mxb"))) / (col("n_b") - 1))
      .withColumn("__seraw",
        sqrt(col("__vrawa") / col("n_a") + col("__vrawb") / col("n_b")))
      .withColumn("__seadj",
        sqrt(col("__vadja") / col("n_a") + col("__vadjb") / col("n_b")))
      .withColumn("__vpoolraw", (syy - sy * sy / d(N)) / (d(N) - 1))
      .withColumn("__vpooladj",
        (syy - lit(2.0) * col("__theta") * sxy + col("__theta") * col("__theta") * sxx -
          (sy - col("__theta") * sx) * (sy - col("__theta") * sx) / d(N)) / (d(N) - 1))
      .select(col("n_a"), col("n_b"),
        round(col("__theta"), 6).as("theta"),
        round((col("__myb") - col("__mya")) / 100.0, 4).as("diff_raw"),
        round((col("__adjb") - col("__adja")) / 100.0, 4).as("diff_adj"),
        round((col("__myb") - col("__mya")) /
          when(col("__seraw") <= 0, lit(null)).otherwise(col("__seraw")), 4)
          .as("t_raw"),
        round((col("__adjb") - col("__adja")) /
          when(col("__seadj") <= 0, lit(null)).otherwise(col("__seadj")), 4)
          .as("t_adj"),
        round(lit(1.0) - col("__vpooladj") /
          when(col("__vpoolraw") <= 0, lit(null)).otherwise(col("__vpoolraw")), 4)
          .as("var_reduction"))
  }

  /** Ratio-metric A/B test via the delta method (Deng et al. 2018) —
    * the correct test for per-unit ratio metrics (clicks/views,
    * revenue/session): the ratio of SUMS R = Σx/Σy is not a mean of
    * per-user ratios, so its variance needs the delta expansion
    * Var(R) ≈ (varₓ + R²var_y − 2R·cov)/(n·ȳ²). Treating a ratio
    * metric as a plain mean is the classic false-positive factory
    * this closes.
    *
    * Exactness: per-arm user-grain moments (n, Σx, Σy, Σx², Σy²,
    * Σxy) in ONE decimal(38,0) aggregate; ratios, variances, and the
    * z are doubles over exact sums in identical written order, 4dp.
    *
    * Output: one row (n_a, n_b, ratio_a, ratio_b, diff, z).
    */
  def ratioMetricDelta(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
      armA: String,
      armB: String): DataFrame = {
    def arm(a: String, p: String) = {
      val in = col(groupCol) === a
      val x = dec(col(xCol).cast("long"))
      val y = dec(col(yCol).cast("long"))
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"n_$p"),
        sum(when(in, x).otherwise(dec(lit(0L)))).as(s"__sx_$p"),
        sum(when(in, y).otherwise(dec(lit(0L)))).as(s"__sy_$p"),
        sum(when(in, x * x).otherwise(dec(lit(0L)))).as(s"__sxx_$p"),
        sum(when(in, y * y).otherwise(dec(lit(0L)))).as(s"__syy_$p"),
        sum(when(in, x * y).otherwise(dec(lit(0L)))).as(s"__sxy_$p"))
    }
    val aggs = arm(armA, "a") ++ arm(armB, "b")
    def stats(p: String): (Column, Column) = {
      val n = d(col(s"n_$p"))
      val r = d(col(s"__sx_$p")) / d(col(s"__sy_$p"))
      val vx = (d(col(s"__sxx_$p")) - d(col(s"__sx_$p")) * d(col(s"__sx_$p")) / n) / (n - 1)
      val vy = (d(col(s"__syy_$p")) - d(col(s"__sy_$p")) * d(col(s"__sy_$p")) / n) / (n - 1)
      val cxy = (d(col(s"__sxy_$p")) - d(col(s"__sx_$p")) * d(col(s"__sy_$p")) / n) / (n - 1)
      val ybar = d(col(s"__sy_$p")) / n
      val se2 = (vx + r * r * vy - lit(2.0) * r * cxy) / (n * ybar * ybar)
      (r, se2)
    }
    val one = df
      .filter(col(groupCol).isin(armA, armB))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_a") > 1 && col("n_b") > 1 &&
        col("__sy_a") > 0 && col("__sy_b") > 0)
    val (ra, sea2) = stats("a")
    val (rb, seb2) = stats("b")
    one.select(col("n_a"), col("n_b"),
      round(ra, 4).as("ratio_a"), round(rb, 4).as("ratio_b"),
      round(rb - ra, 4).as("diff"),
      round((rb - ra) /
        when(sea2 + seb2 <= 0, lit(null)).otherwise(sqrt(sea2 + seb2)), 4)
        .as("z"))
  }

  /** Tukey–Kramer pairwise q-statistics — the post-hoc step F30's
    * ANOVA points at: WHICH groups differ. Every unordered group pair
    * gets the studentized-range statistic q = |mean_b - mean_a| /
    * sqrt((MSW/2)(1/n_a + 1/n_b)) with MSW the ANOVA within-group
    * mean square; compare against the studentized-range critical
    * value for (k, N-k) at the caller's alpha (the statistic table is
    * the deliverable — critical values are a lookup, not data).
    *
    * Exactness: group moments accumulate as decimal(38,0) cent sums
    * in ONE combine; MSW and every q are written-order doubles, 4dp.
    * Scale shape: one (group) combine; the pair expansion is a
    * broadcast self-cross of the GROUP DIM (k(k-1)/2 rows), never of
    * data; the one-row MSW total attaches by broadcast.
    *
    * Output: (group_a, group_b, n_a, n_b, diff, q_stat).
    */
  def tukeyQStats(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val x = dec(cents(col(valueCol)))
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"), sum(x).as("s"),
        sum(x * x).as("q"))
      .filter(col("n") >= 2)
      .withColumn("__ssw", d(col("q")) - d(col("s")) * d(col("s")) / col("n"))
      .localCheckpoint() // feeds the MSW total AND both pair sides
    val msw = g.agg(
      count(lit(1)).as("__k"), sum(col("n")).as("__nn"),
      sum(col("__ssw")).as("__sswt"))
      .filter(col("__nn") > col("__k"))
      .select((col("__sswt") / (col("__nn") - col("__k"))).as("__msw"))
    g.select(col("g").as("group_a"), col("n").as("n_a"), col("s").as("__sa"))
      .join(broadcast(
          g.select(col("g").as("group_b"), col("n").as("n_b"), col("s").as("__sb"))),
        col("group_a") < col("group_b"))
      .crossJoin(broadcast(msw))
      .withColumn("__diff",
        d(col("__sb")) / col("n_b") / 100.0 - d(col("__sa")) / col("n_a") / 100.0)
      .withColumn("__se",
        sqrt(col("__msw") / 10000.0 / 2.0 *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        round(col("__diff"), 4).as("diff"),
        round(abs(col("__diff")) / col("__se"), 4).as("q_stat"))
  }

  /** Empirical-Bayes rate shrinkage — the "adjusted rating" every
    * small-sample ranking needs: per-key success rates shrink toward
    * the population with a beta prior fit by method of moments on the
    * per-key rates (unweighted mean m and variance v over the key
    * table; alpha+beta = m(1-m)/v - 1). A key with 2 trials moves
    * most of the way to the prior; a key with 10k barely moves — the
    * fix for "100% CTR on 1 impression" topping every leaderboard.
    *
    * Determinism: per-key rates quantize to 1e-6 units before the
    * moment sums (exact longs, squares in decimal(38,0) — the
    * corpus-moment contract); m, v, the prior, and each shrunk rate
    * are written-order doubles, 4dp at the projection. Degenerate
    * priors (v = 0 or alpha+beta <= 0) shrink fully to m. Scale
    * shape: one (key) combine, a one-row moment aggregate broadcast
    * back, then a projection.
    *
    * Output: (keyCol, n, x, rate, shrunk).
    */
  def ebShrinkRates(
      df: DataFrame,
      keyCol: String,
      successCol: String): DataFrame = {
    val keys = df
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol) =!= 0, 1L).otherwise(0L)).as("x"))
      .withColumn("__ru", round(d(col("x")) / col("n") * 1e6).cast("long"))
      .localCheckpoint() // feeds the moment aggregate AND the projection
    val moments = keys.agg(
      count(lit(1)).as("__k"),
      sum(col("__ru")).as("__sr"),
      sum(dec(col("__ru")) * dec(col("__ru"))).as("__qr"))
    keys.crossJoin(broadcast(moments))
      .withColumn("__m", d(col("__sr")) / col("__k") / 1e6)
      .withColumn("__v",
        when(col("__k") > 1,
          (d(col("__qr")) / 1e12 - col("__k") * col("__m") * col("__m")) /
            (col("__k") - 1)).otherwise(lit(0.0)))
      .withColumn("__ab",
        when(col("__v") > 0, col("__m") * (lit(1.0) - col("__m")) / col("__v") - 1.0)
          .otherwise(lit(0.0)))
      .withColumn("shrunk",
        when(col("__ab") > 0,
          round((d(col("x")) + col("__m") * col("__ab")) /
            (d(col("n")) + col("__ab")), 4))
          .otherwise(round(col("__m"), 4)))
      .select(col(keyCol), col("n"), col("x"),
        round(d(col("x")) / col("n"), 4).as("rate"), col("shrunk"))
  }

  /** Sequential SRM guard — the always-valid companion to F41's
    * fixed-horizon chi-square: a ONE-SAMPLE mSPRT on the assignment
    * share against the design ratio p0, monitored daily over the
    * cumulative counts. Variance is the NULL variance p0(1-p0)/N
    * (deterministic, no plug-in), so Lambda_t =
    * sqrt(s2/(s2+tau2)) * exp(d^2*tau2/(2*s2*(s2+tau2))) with
    * d = N_a/N - p0; p_t = running min of min(1, 1/Lambda_t). Pages
    * the day assignment drift becomes real, with false positives
    * controlled under daily peeking.
    *
    * Scale shape: ONE corpus combine to day grain; cumulative counts
    * and the running min ride dim-sized day windows (the F58 shape).
    * Counts are exact longs; Lambda/p are written-order doubles.
    *
    * Output: (day, n_a, n, ratio, p_avl, srm).
    */
  def msprtSrm(
      df: DataFrame,
      groupCol: String,
      armA: String,
      dayCol: String,
      p0: Double = 0.5,
      tauSq: Double = 1e-4,
      alpha: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && tauSq > 0)
    val byDay = df
      .groupBy(col(dayCol).as("day"))
      .agg(
        sum(when(col(groupCol) === armA, 1L).otherwise(0L)).as("__na"),
        count(lit(1)).as("__n"))
    val w = Window.partitionBy().orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("n_a", sum(col("__na")).over(w))
      .withColumn("n", sum(col("__n")).over(w))
      .filter(col("n") > 0)
      .withColumn("__d", d(col("n_a")) / col("n") - lit(p0))
      .withColumn("__s2", lit(p0 * (1.0 - p0)) / col("n"))
      .withColumn("__lam",
        sqrt(col("__s2") / (col("__s2") + lit(tauSq))) *
          exp(col("__d") * col("__d") * lit(tauSq) /
            (lit(2.0) * col("__s2") * (col("__s2") + lit(tauSq)))))
      .withColumn("__p1", least(lit(1.0), lit(1.0) / col("__lam")))
      .withColumn("p_avl", round(min(col("__p1")).over(w), 4))
      .select(col("day"), col("n_a"), col("n"),
        round(d(col("n_a")) / col("n"), 4).as("ratio"), col("p_avl"),
        (col("p_avl") <= alpha).as("srm"))
  }

  /** Always-valid inference: mixture SPRT (mSPRT) daily p-value
    * sequence for a two-arm mean difference (Johari et al. 2017) —
    * the sequential-testing upgrade of F13's fixed-horizon z-test: a
    * p_t you may peek at EVERY day and stop the moment it crosses,
    * without inflating false positives. Lambda_t =
    * sqrt(s2d/(s2d+tau2)) * exp(d_t^2*tau2/(2*s2d*(s2d+tau2))) with
    * s2d = pooled-var*(1/n_a+1/n_b) from the CUMULATIVE moments;
    * p_t = running min of min(1, 1/Lambda_t).
    *
    * Determinism: cumulative cent moments ride decimal(38,0) window
    * sums (exact, order-free); Lambda/p are double expressions in
    * identical written order at DAY grain; the running min is exact.
    * Scale shape: ONE corpus combine to day grain, then every window
    * runs over the dim-sized day table (the sanctioned bare-window-
    * over-dim shape) — nothing event-grain ever sorts globally.
    *
    * Output: (day, n_a, n_b, diff, p_avl, signif) for days where both
    * cumulative arms have >= 2 observations and positive variance.
    */
  def msprtSequence(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      armA: String,
      armB: String,
      dayCol: String,
      tauSq: Double = 1.0,
      alpha: Double = 0.05): DataFrame = {
    val x = dec(cents(col(valueCol)))
    val zero = dec(lit(0L))
    val byDay = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(armA, armB))
      .groupBy(col(dayCol).as("day"))
      .agg(
        sum(when(col(groupCol) === armA, 1L).otherwise(0L)).as("__na"),
        sum(when(col(groupCol) === armA, x).otherwise(zero)).as("__sa"),
        sum(when(col(groupCol) === armA, x * x).otherwise(zero)).as("__qa"),
        sum(when(col(groupCol) === armB, 1L).otherwise(0L)).as("__nb"),
        sum(when(col(groupCol) === armB, x).otherwise(zero)).as("__sb"),
        sum(when(col(groupCol) === armB, x * x).otherwise(zero)).as("__qb"))
    val w = Window.partitionBy().orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byDay
      .withColumn("n_a", sum(col("__na")).over(w))
      .withColumn("n_b", sum(col("__nb")).over(w))
      .withColumn("__csa", sum(col("__sa")).over(w))
      .withColumn("__cqa", sum(col("__qa")).over(w))
      .withColumn("__csb", sum(col("__sb")).over(w))
      .withColumn("__cqb", sum(col("__qb")).over(w))
      .filter(col("n_a") > 1 && col("n_b") > 1)
      // cumulative means/pooled variance in DOLLARS (cents / 100)
      .withColumn("__ma", d(col("__csa")) / col("n_a") / 100.0)
      .withColumn("__mb", d(col("__csb")) / col("n_b") / 100.0)
      .withColumn("__var",
        ((d(col("__cqa")) / 10000.0 - col("n_a") * col("__ma") * col("__ma")) +
         (d(col("__cqb")) / 10000.0 - col("n_b") * col("__mb") * col("__mb"))) /
          (col("n_a") + col("n_b") - 2))
      .filter(col("__var") > 0)
      .withColumn("__d", col("__mb") - col("__ma"))
      .withColumn("__s2d", col("__var") * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      .withColumn("__lam",
        sqrt(col("__s2d") / (col("__s2d") + lit(tauSq))) *
          exp(col("__d") * col("__d") * lit(tauSq) /
            (lit(2.0) * col("__s2d") * (col("__s2d") + lit(tauSq)))))
      .withColumn("__p1", least(lit(1.0), lit(1.0) / col("__lam")))
    val wmin = Window.partitionBy().orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum
      .withColumn("p_avl", round(min(col("__p1")).over(wmin), 4))
      .select(col("day"), col("n_a"), col("n_b"),
        round(col("__d"), 4).as("diff"), col("p_avl"),
        (col("p_avl") <= alpha).as("signif"))
  }

  /** Two-sample Cramér–von Mises statistic (F80) — the WHOLE-curve
    * distribution comparison: T = (n1·n2/N²)·Σ_z (F1(z)−F2(z))² over
    * every pooled observation, completing the trio with F25's KS
    * (sup-gap: sensitive to one big local split) and F75's W1
    * (magnitude in value units): CvM accumulates EVERY gap, so many
    * small persistent differences — the shape drift KS under-weights
    * — move it first. T ≳ 0.46 rejects at 5% in the classic table.
    *
    * Exactness: FULLY integer until one final division — with
    * value-grain counts, T = Σ_v cnt_v·(F1(v)·n2 − F2(v)·n1)² /
    * (n1·n2·N²), every term exact in decimal(38,0) (the corpus-moment
    * contract); no float accumulation on either engine.
    *
    * Scale shape: the ksTest contract — one value-grain collapse,
    * one grain-guarded value-ordered stage, a one-row reduce.
    *
    * Output: one row (n1, n2, t_cvm), 4dp.
    */
  def cramerVonMises(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val totals = pts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    grainGuarded(pts, cumRows, "cramerVonMises")
      .withColumn("__f1", sum("c1").over(cumRows))
      .withColumn("__f2", sum("c2").over(cumRows))
      .crossJoin(broadcast(totals))
      .withColumn("__dv",
        dec(col("__f1")) * dec(col("n2")) - dec(col("__f2")) * dec(col("n1")))
      .groupBy("n1", "n2")
      .agg(sum(dec(col("c1") + col("c2")) * col("__dv") * col("__dv"))
        .as("__num"))
      .withColumn("__nn", d(col("n1") + col("n2")))
      .select(col("n1"), col("n2"),
        round(d(col("__num")) /
          (d(col("n1")) * d(col("n2")) * col("__nn") * col("__nn")), 4)
          .as("t_cvm"))
  }

  /** Mood's rank-dispersion test (F81) — do two groups differ in
    * SPREAD, assumption-free: M = Σ_{i∈A} (r_i − (N+1)/2)² on pooled
    * midranks (Mood 1954), z against the null moments
    * E = n1(N²−1)/12, Var = n1·n2·(N+1)(N²−4)/180. Completes the
    * rank-test family's third axis: F27 asks location, F65 asks
    * variance homogeneity via level deviations (sensitive to the
    * center estimate), Mood asks dispersion purely by how far a
    * group's ranks sit from the middle.
    *
    * Exactness: doubled midranks make D = 2r − (N+1) an exact
    * integer per value, so 4M = Σ c1·D² rides decimal(38,0) exactly
    * (m publishes as the exact binary quarter 4M/4); z is one double
    * expression over exact integers, 4dp, with the jonckheere
    * convention of no-tie null moments (cent quantization keeps real
    * ties rare; the statistic itself counts them exactly).
    *
    * Scale shape: the ksTest contract — one value-grain collapse,
    * one grain-guarded value-ordered stage, a one-row reduce.
    *
    * Output: one row (n1, n2, m, z) — null z on degenerate N ≤ 2.
    */
  def moodTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val wAll = byValue.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grainGuarded(pts, cumRows, "moodTest")
      .withColumn("__t", col("c1") + col("c2"))
      .withColumn("__r2", midrank2(byValue, col("__t"), col("__t")))
      .withColumn("__D", dec(col("__r2")) - dec(sum(col("__t")).over(wAll) + 1L))
      .agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(dec(col("c1")) * col("__D") * col("__D")).as("__m4"))
      .withColumn("__nn", d(col("n1") + col("n2")))
      .withColumn("__e",
        d(col("n1")) * (col("__nn") * col("__nn") - 1.0) / 12.0)
      .withColumn("__var",
        d(col("n1")) * d(col("n2")) * (col("__nn") + 1.0) *
          (col("__nn") * col("__nn") - 4.0) / 180.0)
      .select(col("n1"), col("n2"),
        (d(col("__m4")) / 4.0).as("m"),
        when(col("__var") > 0,
          round((d(col("__m4")) / 4.0 - col("__e")) / sqrt(col("__var")), 4))
          .as("z"))
  }

  /** Mood's MEDIAN test (F82) — do two groups sit on the same side of
    * the POOLED median: the bluntest, most assumption-free location
    * check (Brown–Mood), valuable exactly when heavy tails or
    * censoring make even ranks suspect; χ² on the 2×2 (group ×
    * above/≤-median) table. Completes the median family: F19 computes
    * a weighted median, this one tests with it.
    *
    * Exactness: the pooled LOWER median is an integer decision on the
    * value grain (smallest v with cumulative count ≥ ceil(N/2), both
    * engines identical); the four cells are exact longs; χ² =
    * N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) rides decimal(38,0) products
    * and ends in one double division, 4dp.
    *
    * Scale shape: the ksTest contract — one value-grain collapse
    * (checkpointed: it feeds the median pick AND the cell counts),
    * one grain-guarded cumulative window, two one-row reduces and a
    * broadcast of the one-row median.
    *
    * Output: one row (n1, n2, median, above_a, above_b, chi2) — null
    * χ² when a margin is empty (all values on one side).
    */
  def moodMedianTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val wAll = byValue.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = broadcast(grainGuarded(pts, cumRows, "moodMedianTest")
      .withColumn("__cum", sum(col("c1") + col("c2")).over(cumRows))
      .withColumn("__n", sum(col("c1") + col("c2")).over(wAll))
      .filter(col("__cum") * 2L >= col("__n"))
      .agg(min(col("v")).as("__med")))
    pts.crossJoin(med)
      .agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(when(col("v") > col("__med"), col("c1")).otherwise(0L)).as("above_a"),
        sum(when(col("v") > col("__med"), col("c2")).otherwise(0L)).as("above_b"),
        max(col("__med")).as("__m"))
      .withColumn("__a", dec(col("above_a")))
      .withColumn("__b", dec(col("n1") - col("above_a")))
      .withColumn("__c", dec(col("above_b")))
      .withColumn("__dd", dec(col("n2") - col("above_b")))
      .withColumn("__num",
        (col("__a") * col("__dd") - col("__b") * col("__c")) *
          (col("__a") * col("__dd") - col("__b") * col("__c")) *
          dec(col("n1") + col("n2")))
      .withColumn("__den",
        dec(col("n1")) * dec(col("n2")) *
          (col("__a") + col("__c")) * (col("__b") + col("__dd")))
      .select(col("n1"), col("n2"),
        (col("__m") / 100.0).as("median"),
        col("above_a"), col("above_b"),
        when(col("__den") > 0, round(d(col("__num")) / d(col("__den")), 4))
          .as("chi2"))
  }

  /** McNemar's test for PAIRED binary outcomes (F74) — "did the same
    * subjects flip?": the within-subject companion to the independent
    * two-proportion z (F13). Only the discordant cells carry signal:
    * with b = #{a=1,b=0} and c = #{a=0,b=1},
    * χ² = (max(|b−c|−1, 0))² / (b+c) — the Edwards
    * continuity-corrected form, with the |b−c| ≤ 1 case clamped to 0
    * (the uncorrected statistic is already 0-or-tiny there and the
    * textbook (−1)² = 1 artifact would claim evidence from none).
    *
    * Exactness: the 2×2 concordance cells are exact long counts from
    * one grouped scan; χ² is one final integer-over-integer division
    * (true-ratio class, 4dp). Null when b+c = 0 (no discordant
    * pairs — the test is undefined).
    *
    * Scale shape: one subject-grain combine (map-side), then a
    * one-row reduce over the four cells. No windows, no joins.
    *
    * Output: one row (n, n11, n00, b01, b10, chi2).
    */
  def mcnemar(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    pairs
      .agg(
        count(lit(1)).as("n"),
        sum(when(a === 1L && b === 1L, 1L).otherwise(0L)).as("n11"),
        sum(when(a === 0L && b === 0L, 1L).otherwise(0L)).as("n00"),
        sum(when(a === 1L && b === 0L, 1L).otherwise(0L)).as("b01"),
        sum(when(a === 0L && b === 1L, 1L).otherwise(0L)).as("b10"))
      .withColumn("__disc", col("b01") + col("b10"))
      .withColumn("__num",
        greatest(abs(col("b01") - col("b10")) - 1L, lit(0L)))
      .select(col("n"), col("n11"), col("n00"), col("b01"), col("b10"),
        when(col("__disc") > 0,
          // square in DOUBLES: |b−c| is exact far below 2^53, and the
          // long product would overflow first at corpus counts
          round(d(col("__num")) * d(col("__num")) / d(col("__disc")), 4))
          .as("chi2"))
  }

  /** Bartlett's test — variance homogeneity across k groups under
    * normality: T = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(Sᵢ²)] / C with the
    * Bartlett correction C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)).
    * The classical, more powerful companion to F65's Brown–Forsythe
    * (which it loses to only under non-normality — run both, trust
    * BF when they disagree).
    *
    * Exactness: per-group (n, Σc, Σc²) in integer cents /
    * decimal(38,0) from ONE map-side combine; variances, logs, and T
    * are written-order doubles of exact integers, 4dp. Groups with
    * n < 2 or zero variance are EXCLUDED (their ln is undefined —
    * the standard treatment), and k reflects the tested groups.
    *
    * Output: one row (k, n, t_stat) — null when k < 2.
    */
  def bartlett(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), cents(col(valueCol)).as("__c"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum(dec(col("__c"))).as("__s"),
        sum(dec(col("__c")) * col("__c")).as("__q"))
      .filter(col("__n") >= 2)
      .withColumn("__v",
        (d(col("__q")) - d(col("__s")) * d(col("__s")) / col("__n")) /
          (col("__n") - 1L))
      .filter(col("__v") > 0)
      .agg(count(lit(1)).as("k"), sum("__n").as("n"),
        sum(d(col("__n") - 1L) * col("__v")).as("__sw"),
        sum(d(col("__n") - 1L) * log(col("__v"))).as("__sl"),
        sum(lit(1.0) / d(col("__n") - 1L)).as("__ih"))
      .withColumn("__sp", col("__sw") / d(col("n") - col("k")))
      .select(col("k"), col("n"),
        round(when(col("k") >= 2 && col("n") > col("k"),
          (d(col("n") - col("k")) * log(col("__sp")) - col("__sl")) /
            (lit(1.0) + (col("__ih") - lit(1.0) / d(col("n") - col("k"))) /
              (lit(3.0) * d(col("k") - 1L)))), 4).as("t_stat"))
  }

  /** Levene's test — the MEAN-centered member of the variance-
    * homogeneity family (F65's Brown–Forsythe is the median-centered
    * robust default; Levene is the textbook original and the more
    * powerful choice for symmetric, light-tailed data): ANOVA F on
    * z = |x − x̄_g|.
    *
    * Exactness: the mean is not integral, so each deviation is
    * carried as the exact integer NUMERATOR u = |c·n_g − Σc| (the
    * multiply-through trick) in decimal(38,0); per-group z-moments
    * are doubles of exact decimals with the per-group divisions done
    * once (Σz = Σu/n, Σz² = Σu²/n²); the F fold follows anovaF's
    * written-order double convention, 4dp.
    *
    * Output: one row (k, n, w_stat) — null when the within variance
    * vanishes.
    */
  def levene(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val in = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"), cents(col(valueCol)).as("__c"))
    val sums = in.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum(dec(col("__c"))).as("__s"))
    in.join(broadcast(sums), "__g")
      .withColumn("__u", abs(dec(col("__c")) * col("__n") - col("__s")))
      .groupBy("__g")
      .agg(max(col("__n")).as("__n"), sum(col("__u")).as("__us"),
        sum(col("__u") * col("__u")).as("__uq"))
      .select(col("__n"), (d(col("__us")) / col("__n")).as("__zs"),
        (d(col("__uq")) / (d(col("__n")) * col("__n"))).as("__zq"))
      .agg(count(lit(1)).as("k"), sum("__n").as("n"),
        sum(col("__zs") * col("__zs") / col("__n")).as("__sb"),
        sum(col("__zs")).as("__S"), sum(col("__zq")).as("__Q"))
      .withColumn("__ssb", col("__sb") - col("__S") * col("__S") / col("n"))
      .withColumn("__ssw", col("__Q") - col("__sb"))
      .select(col("k"), col("n"),
        round((col("__ssb") / (col("k") - 1L)) /
          when(col("__ssw") <= 0 || col("n") <= col("k"), lit(null))
            .otherwise(col("__ssw") / (col("n") - col("k"))), 4).as("w_stat"))
  }

  /** Cochran's Q — did ANY of k paired binary treatments shift the
    * hit rate, across shared blocks (the k-treatment extension of
    * F74's McNemar; Friedman's frame with binary cells):
    * Q = (k−1)·[k·ΣCⱼ² − N²] / (k·ΣRᵤ − ΣRᵤ²) with column totals C,
    * row totals R, grand total N over the DENSE block×treatment
    * binary grid (xᵤₜ = does block u hit under treatment t).
    *
    * Exactness: everything is integer (squares in decimal(38,0) —
    * column totals reach corpus scale) until the ONE final division;
    * all-0 and all-k blocks cancel in the denominator exactly as the
    * statistic requires — no filtering needed.
    *
    * Scale shape: cells from one map-side combine, the dense grid via
    * a broadcast treatment dim (k rows), both total sets at collapsed
    * grain. localCheckpoint: cells and the grid each feed two plan
    * branches.
    *
    * Output: one row (k, b, q_stat).
    */
  def cochranQ(
      df: DataFrame,
      blockCol: Column,
      treatCol: Column,
      hit: Column): DataFrame = {
    val cells = df
      .groupBy(blockCol.as("b"), treatCol.as("g"))
      .agg(max(when(hit, 1L).otherwise(0L)).as("x"))
      .localCheckpoint()
    val dense = cells.select("b").distinct()
      .crossJoin(broadcast(cells.select("g").distinct()))
      .join(cells, Seq("b", "g"), "left")
      .select(col("b"), col("g"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint() // feeds the column totals AND the row totals
    val colT = dense.groupBy("g").agg(sum("x").as("__cj"))
      .agg(count(lit(1)).as("k"), sum(dec(col("__cj")) * col("__cj")).as("__cc"),
        sum("__cj").as("__N"))
    val rowT = dense.groupBy("b").agg(sum("x").as("__ru"))
      .agg(count(lit(1)).as("b"), sum("__ru").as("__R"),
        sum(dec(col("__ru")) * col("__ru")).as("__rr"))
    colT.crossJoin(broadcast(rowT))
      .withColumn("__den", d(col("k")) * d(col("__R")) - d(col("__rr")))
      .select(col("k"), col("b"),
        round(d(col("k") - 1L) *
          (d(col("k")) * d(col("__cc")) - d(col("__N")) * d(col("__N"))) /
          when(col("__den") <= 0, lit(null)).otherwise(col("__den")), 4)
          .as("q_stat"))
  }

  /** Page's L — the ORDERED-alternative sharpening of F64's Friedman
    * (as F71's Jonckheere sharpens F63's Kruskal–Wallis): is the
    * treatment effect MONOTONE in an a-priori treatment order (here:
    * lexicographic)? L = Σⱼ wⱼRⱼ with wⱼ = the treatment's ordinal
    * and Rⱼ its within-block rank sum; published DOUBLED (l2 = 2L)
    * so tied average-ranks stay exact integers, with the z against
    * the NO-TIE null moments E[L] = b·k(k+1)²/4,
    * Var[L] = b·k²(k+1)(k²−1)/144 (the q330 convention).
    *
    * Scale shape: F64's dense doubled-rank frame (blocks×treatments,
    * zero-filled, RANGE-frame cumulative ranks inside k-bounded
    * block partitions), one treatment-grain rollup, a k-row ordinal
    * window riding that aggregate.
    *
    * Output: one row (n_blocks, k, l2, z).
    */
  def pageTrend(
      df: DataFrame,
      blockCol: Column,
      treatCol: Column): DataFrame = {
    val ranked = blockMidranks(df, blockCol, treatCol)
    val perT = ranked.groupBy("g").agg(sum("__r2").as("__s2"))
      .withColumn("__w",
        row_number().over(Window.orderBy("g")).cast("long"))
    val stats = perT.agg(count(lit(1)).as("k"),
      sum(col("__w") * col("__s2")).as("l2"))
    val blocks = ranked.agg(countDistinct(col("b")).as("n_blocks"))
    stats.crossJoin(broadcast(blocks))
      .withColumn("__e2", // 2·E[L] = b·k(k+1)²/2
        d(col("n_blocks")) * d(col("k")) * d(col("k") + 1L) *
          d(col("k") + 1L) / 2.0)
      .withColumn("__var", // Var[L], no-tie null
        d(col("n_blocks")) * d(col("k")) * d(col("k")) * d(col("k") + 1L) *
          (d(col("k")) * d(col("k")) - 1.0) / 144.0)
      .select(col("n_blocks"), col("k"), col("l2"),
        round((d(col("l2")) - col("__e2")) /
          when(col("__var") <= 0, lit(null))
            .otherwise(lit(2.0) * sqrt(col("__var"))), 4).as("z"))
  }

  /** Wald–Wolfowitz runs test per keyed series — is the sequence of
    * above/below-median excursions RANDOM, or does it trend/cluster
    * (too few runs) or oscillate (too many)? The assumption-free
    * serial-dependence check next to D17's Durbin–Watson (which
    * needs a fitted model) and D8's ACF (which assumes stationary
    * moments).
    *
    * Exactness: the dichotomizing cut is the exact per-key
    * interpolated median in DOUBLED units (integral for any parity);
    * equal-to-median points are EXCLUDED (the standard treatment);
    * runs/n₁/n₂ are exact integers from one lag pass; z against the
    * exact null moments μ = 2n₁n₂/(n₁+n₂)+1 and the textbook σ² is
    * one written-order double fold, 4dp.
    *
    * Scale shape: callers pass a KEYED SERIES (day grain — calendar-
    * bounded partitions); the lag window rides that grain.
    *
    * Output: keys ++ (n_above, n_below, runs, z).
    */
  def runsTest(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val v2 = (col(valueCol).cast("long") * 2L).as("__v2")
    val med = df.groupBy(keys.map(col): _*)
      .agg(round(percentile(col(valueCol).cast("long") * 2L, lit(0.5)))
        .cast("long").as("__m2"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
    df.select(keys.map(col) ++ Seq(col(orderCol), v2): _*)
      .join(med, keys)
      .filter(col("__v2") =!= col("__m2"))
      .withColumn("__sgn", col("__v2") > col("__m2"))
      .withColumn("__prev", lag("__sgn", 1).over(w))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("__sgn"), 1L).otherwise(0L)).as("n_above"),
        sum(when(!col("__sgn"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("__prev").isNull || col("__prev") =!= col("__sgn"), 1L)
          .otherwise(0L)).as("runs"))
      .withColumn("__nn", col("n_above") + col("n_below"))
      .withColumn("__p", lit(2.0) * d(col("n_above")) * col("n_below"))
      .withColumn("__mu", col("__p") / col("__nn") + 1.0)
      .withColumn("__var",
        col("__p") * (col("__p") - col("__nn")) /
          (d(col("__nn")) * col("__nn") * (col("__nn") - 1L)))
      .select(keys.map(col) ++ Seq(col("n_above"), col("n_below"), col("runs"),
        round((d(col("runs")) - col("__mu")) /
          when(col("n_above") === 0 || col("n_below") === 0 ||
            col("__var") <= 0, lit(null))
            .otherwise(sqrt(col("__var"))), 4).as("z")): _*)
  }

  /** Spectral entropy per keyed series — HOW concentrated is the
    * series' periodic structure across a fixed period bank (D30's
    * periodogram powers folded to one number): 0 = one pure tone
    * (strongly seasonal), 1 = flat spectrum (noise-like). The
    * screening statistic that decides whether D11/D19's seasonal
    * machinery is worth running on a key at all.
    *
    * Exactness: D30's integer phase machinery verbatim (milli-
    * quantized trig weights, decimal(38,0) A/B sums); per-period
    * powers are written-order doubles of exact decimals with the
    * SAME n_phases⁻⁴ normalization as D30's amp²; the entropy fold
    * is k-bounded (one row per period), 4dp.
    *
    * Output: keys ++ (n_periods, peak_share, spectral_entropy) —
    * null entropy when the total power vanishes.
    */
  def spectralEntropy(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String,
      periods: Seq[Int] = Seq(2, 3, 4, 5, 6, 7, 14, 30)): DataFrame = {
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
    val power = phase
      .withColumn("__Ct", sum("__m").over(w))
      .withColumn("__P", count(lit(1)).over(w))
      .withColumn("__cr", col("__m") * col("__P") - col("__Ct"))
      .withColumn("__cw",
        expr("CAST(round(cos(2 * pi() * __r / period) * 1000) AS BIGINT)"))
      .withColumn("__sw",
        expr("CAST(round(sin(2 * pi() * __r / period) * 1000) AS BIGINT)"))
      .groupBy(keys.map(col) :+ col("period"): _*)
      .agg(first(col("__P")).as("__np"),
        sum(dec(col("__cr")) * col("__cw")).as("__A"),
        sum(dec(col("__cr")) * col("__sw")).as("__B"))
      .withColumn("__pw",
        d(col("__A") * col("__A") + col("__B") * col("__B")) * 4.0 /
          (d(col("__np")) * col("__np") * col("__np") * col("__np")) / 1e18)
    power
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_periods"),
        sum("__pw").as("__tot"), max("__pw").as("__mx"),
        sum(when(col("__pw") > 0,
          col("__pw") * log(col("__pw"))).otherwise(lit(0.0))).as("__plp"))
      .select(keys.map(col) ++ Seq(col("n_periods"),
        round(when(col("__tot") > 0, col("__mx") / col("__tot")), 4)
          .as("peak_share"),
        // H = −Σ p ln p / ln m  with  Σ p ln p = (Σ P lnP)/T − lnT
        round(when(col("__tot") > 0 && col("n_periods") >= 2,
          -(col("__plp") / col("__tot") - log(col("__tot"))) /
            log(d(col("n_periods")))), 4).as("spectral_entropy")): _*)
  }

  /** G-test (log-likelihood-ratio) of independence between two
    * categorical columns — F22 χ²'s information-theoretic twin
    * (G = 2N·MI_nats, the additive statistic that partitions cleanly
    * across nested tables where Pearson's χ² does not). Run both:
    * they agree asymptotically and diverge exactly where small
    * expected cells make the quadratic approximation of χ² break.
    *
    * Empty-cell fold: G sums O·ln(O·N/(R·C)) over OBSERVED cells only
    * — an empty cell contributes exactly 0 (lim x·ln x = 0), so
    * unlike χ² no empty-cell correction term is even needed; sparse
    * high-cardinality pairs stay at observed-cell grain for free.
    *
    * Determinism: margins are exact longs from RANGE windows over the
    * cell table; each cell's contribution is ONE pinned double
    * expression rounded 6dp before the cell-table-sized sum; G is
    * rounded 4dp (the chiSquare convention).
    *
    * Output (one row): n, r_levels, c_levels, dof, g_stat.
    */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("n_ab"))
    cells
      .withColumn("_na", sum(col("n_ab")).over(Window.partitionBy(aCol)))
      .withColumn("_nb", sum(col("n_ab")).over(Window.partitionBy(bCol)))
      .withColumn("_n", sum(col("n_ab")).over(Window.partitionBy()))
      .withColumn("contrib",
        round(d(col("n_ab")) *
          log((d(col("n_ab")) * d(col("_n"))) /
            (d(col("_na")) * d(col("_nb")))), 6))
      .groupBy()
      .agg(
        min(col("_n")).as("n"),
        countDistinct(col(aCol)).as("r_levels"),
        countDistinct(col(bCol)).as("c_levels"),
        sum(col("contrib")).as("_sc"))
      .withColumn("dof", (col("r_levels") - 1) * (col("c_levels") - 1))
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        round(lit(2.0) * col("_sc"), 4).as("g_stat"))
  }

  /** Cochran–Mantel–Haenszel test + Mantel–Haenszel pooled odds
    * ratio — is a binary exposure associated with a binary outcome
    * AFTER conditioning on a stratification that could confound it
    * (the Simpson's-paradox guard F13's unstratified two-proportion z
    * walks straight into): per stratum t the 2×2 (a,b,c,d) yields
    * E_t = r1·c1/n and V_t = r1·r2·c1·c2/(n²(n−1)); CMH =
    * (|Σ(a−E)| − ½)²/ΣV (continuity-corrected), OR_MH =
    * Σ(a·d/n) / Σ(b·c/n).
    *
    * Determinism: per-stratum counts are exact longs from ONE
    * conditional map-side combine; E, V and the two OR terms are
    * pinned double expressions of those longs rounded 6dp before the
    * strata-dim-sized sums; final stats 4dp. Strata with n < 2 are
    * excluded (V undefined), mirroring both engines.
    *
    * Output (one row): strata, n, cmh_stat, or_mh — or_mh null when
    * no discordant mass exists (ΣS = 0), cmh null when ΣV = 0.
    */
  def cmh(
      df: DataFrame,
      strata: Column,
      exposed: Column,
      success: Column): DataFrame = {
    val cellTab = df
      .groupBy(strata.as("__t"))
      .agg(
        sum(when(exposed && success, 1L).otherwise(0L)).as("__a"),
        sum(when(exposed && !success, 1L).otherwise(0L)).as("__b"),
        sum(when(!exposed && success, 1L).otherwise(0L)).as("__c"),
        sum(when(!exposed && !success, 1L).otherwise(0L)).as("__d"))
      .withColumn("__n", col("__a") + col("__b") + col("__c") + col("__d"))
      .filter(col("__n") >= 2)
    cellTab
      .withColumn("__r1", col("__a") + col("__b"))
      .withColumn("__r2", col("__c") + col("__d"))
      .withColumn("__c1", col("__a") + col("__c"))
      .withColumn("__c2", col("__b") + col("__d"))
      .withColumn("__num",
        round(d(col("__a")) - (d(col("__r1")) * d(col("__c1"))) / col("__n"), 6))
      .withColumn("__var",
        round((d(col("__r1")) * d(col("__r2")) * d(col("__c1")) * d(col("__c2"))) /
          (d(col("__n")) * d(col("__n")) * (d(col("__n")) - 1.0)), 6))
      .withColumn("__R", round((d(col("__a")) * d(col("__d"))) / col("__n"), 6))
      .withColumn("__S", round((d(col("__b")) * d(col("__c"))) / col("__n"), 6))
      .agg(
        count(lit(1)).as("strata"), sum("__n").as("n"),
        sum("__num").as("__sn"), sum("__var").as("__sv"),
        sum("__R").as("__sr"), sum("__S").as("__ss"))
      .select(col("strata"), col("n"),
        round(when(col("__sv") > 0,
          (abs(col("__sn")) - 0.5) * (abs(col("__sn")) - 0.5) / col("__sv")), 4)
          .as("cmh_stat"),
        round(when(col("__ss") > 0, col("__sr") / col("__ss")), 4).as("or_mh"))
  }

  /** Dunn's post-hoc test — WHICH group pairs differ, once F63's
    * omnibus Kruskal–Wallis fires: pairwise z on the POOLED average
    * ranks (not per-pair re-ranks — that is the Dunn/pairwise-MW
    * distinction), with the pooled tie correction
    * σ² = [N(N+1) − Σ(t³−t)/(N−1)]/12 and
    * z_ab = (R̄_a − R̄_b)/√(σ²(1/n_a + 1/n_b)).
    *
    * Exactness: the kruskalWallis frame verbatim — INTEGER 2·rank =
    * 2·cumBefore + t + 1 on the (value, group) grain, rank sums and
    * tie cubes in decimal(38,0); the mean-rank difference is carried
    * as the EXACT decimal numerator S_a·n_b − S_b·n_a (multiply-
    * through) and divided once inside the final z expression, 4dp.
    *
    * Scale shape: one corpus scan to (value, group) grain, the same
    * single ValueGrainCap-guarded ranking window as kruskalWallis,
    * then the k-row group table self-joined (broadcast, k² pairs).
    *
    * Output: one row per unordered pair (g_a < g_b): g_a, g_b, n_a,
    * n_b, z — z null when σ² degenerates (all values tied).
    */
  def dunn(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val pts = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(cents(col(valueCol)).as("v"), col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val ranked = grainGuarded(pts, byValue, "dunn")
      .withColumn("__t", tieCount(byValue, col("n")))
      .withColumn("__r2", midrank2(byValue, col("n"), col("__t")))
    val perG = ranked.groupBy("g")
      .agg(sum("n").as("__ng"),
        sum(dec(col("n")) * col("__r2")).as("__s2"))
      .localCheckpoint()
    val tot = perG.agg(sum("__ng").as("__N")).crossJoin(
      pts.groupBy("v").agg(sum("n").as("__t"))
        .agg(tieCube(col("__t")).as("__tie3")))
    val a = perG.select(col("g").as("g_a"), col("__ng").as("n_a"),
      col("__s2").as("__sa"))
    val b = perG.select(col("g").as("g_b"), col("__ng").as("n_b"),
      col("__s2").as("__sb"))
    a.crossJoin(broadcast(b)).filter(col("g_a") < col("g_b"))
      .crossJoin(broadcast(tot))
      // σ² from the doubled-rank frame: 2R has variance 4σ², so the
      // doubled-scale variance is [N(N+1) − tie3/(N−1)]/3
      .withColumn("__sig2",
        (d(col("__N")) * d(col("__N") + 1L) -
          d(col("__tie3")) / (d(col("__N")) - 1.0)) / 3.0)
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(when(col("__sig2") > 0 && col("__N") > 1,
          d(col("__sa") * col("n_b") - col("__sb") * col("n_a")) /
            (d(col("n_a")) * d(col("n_b")) *
              sqrt(col("__sig2") *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))), 4)
          .as("z"))
  }

  /** Two-sample Anderson–Darling test (F107) — the tail-sensitive
    * member of the distribution-comparison family: F25's KS sees only
    * the single largest CDF gap (center-dominated), F75's Wasserstein
    * integrates the gap in value units; AD weights the squared gap by
    * 1/[F(1−F)], so divergence in the TAILS — exactly where quality
    * filters and score cutoffs live — is what fires. Scholz–Stephens
    * 1987's tie-aware A²_akN at k = 2, on midrank CDFs.
    *
    * Exactness: the F25 value-grain frame; doubled midrank cumulative
    * counts keep every numerator/denominator EXACT integers in
    * decimal(38,0) ((N·M2ᵢ − nᵢ·B2)² / (B2(2N−B2) − N·l) — the /4s
    * cancel); each value's full contribution is ONE pinned double
    * fixed to integer PICO-units via floor(x·1e12 + 0.5), so the
    * value-grain sum is order-free on any engine.
    *
    * Output: one row (n1, n2, a2 4dp) — A² ≈ 1 under H0, grows with
    * divergence; > ~2.5 rejects at 5%.
    */
  def ad2Test(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val totals = pts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    grainGuarded(pts, cumRows, "ad2Test")
      .withColumn("__F1", sum("c1").over(cumRows))
      .withColumn("__F2", sum("c2").over(cumRows))
      .crossJoin(broadcast(totals))
      .withColumn("__N", col("n1") + col("n2"))
      .withColumn("__l", col("c1") + col("c2"))
      .withColumn("__B2",
        lit(2L) * (col("__F1") + col("__F2")) - col("__l"))
      .withColumn("__M21", lit(2L) * col("__F1") - col("c1"))
      .withColumn("__M22", lit(2L) * col("__F2") - col("c2"))
      .withColumn("__num1",
        dec(col("__M21")) * col("__N") - dec(col("__B2")) * col("n1"))
      .withColumn("__num2",
        dec(col("__M22")) * col("__N") - dec(col("__B2")) * col("n2"))
      .withColumn("__den",
        dec(col("__B2")) * (lit(2L) * col("__N") - col("__B2")) -
          dec(col("__N")) * col("__l"))
      .withColumn("__t",
        when(col("__den") > 0,
          d(col("__N") - 1L) * col("__l") *
            (d(col("__num1") * col("__num1")) / d(col("__den")) / col("n1") +
              d(col("__num2") * col("__num2")) / d(col("__den")) / col("n2")) /
            (d(col("__N")) * d(col("__N")))).otherwise(lit(0.0)))
      .withColumn("__tq", floor(col("__t") * 1e12 + 0.5).cast("long"))
      .groupBy("n1", "n2")
      .agg(sum("__tq").as("__s"))
      .select(col("n1"), col("n2"),
        round(d(col("__s")) / 1e12, 4).as("a2"))
  }

  /** Squared-ranks dispersion test (F108, Conover's rank test for
    * equal variances, median-centered) — the RANK member that
    * completes the variance-homogeneity family: F100 Bartlett
    * (normal theory), F101 Levene (mean deviations), F65
    * Brown–Forsythe (median deviations), and this — no moment
    * assumptions at all: pooled average ranks of u = |x − median_g|,
    * squared, and the tie-robust statistic
    * T = (N−1)[Σ S_g²/n_g − N w̄²]/[Σw² − N w̄²].
    *
    * Exactness: doubled per-group medians (the D34 convention) make
    * u exact integers on one pooled grid; the F63 doubled-rank frame
    * ranks them; squared doubled-ranks keep S and Σw² in QUARTER
    * units — exact decimal(38,0) — and the /16s cancel in T, which
    * follows the kruskalWallis written-order double convention, 4dp.
    *
    * Output: one row (k, n, t_stat) — null when dispersion of the
    * squared ranks vanishes.
    */
  def squaredRanks(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val c2 = (cents(col(valueCol)) * 2L).as("__c2")
    val rows = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), c2)
    val med = rows.groupBy("g")
      .agg(round(percentile(col("__c2"), lit(0.5))).cast("long").as("__m2"))
    val pts = rows.join(broadcast(med), "g")
      .select(col("g"), abs(col("__c2") - col("__m2")).as("u"))
      .groupBy("u", "g").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the rank window and the tie grain
    val ord = Window.orderBy("u")
    val ranked = grainGuarded(pts, ord, "squaredRanks")
      .withColumn("__t", tieCount(ord, col("n")))
      .withColumn("__r2", midrank2(ord, col("n"), col("__t")))
    val perG = ranked.groupBy("g")
      .agg(sum("n").as("__ng"),
        sum(dec(col("n")) * col("__r2") * col("__r2")).as("__s4"),
        sum(dec(col("n")) * col("__r2") * col("__r2") * col("__r2") *
          col("__r2")).as("__q16"))
    perG
      .agg(count(lit(1)).as("k"), sum("__ng").as("n"),
        sum(d(col("__s4")) * d(col("__s4")) / col("__ng")).as("__A"),
        sum(col("__s4")).as("__s4t"), sum(col("__q16")).as("__q16t"))
      .withColumn("__num",
        col("__A") - d(col("__s4t")) * d(col("__s4t")) / col("n"))
      .withColumn("__den",
        d(col("__q16t")) - d(col("__s4t")) * d(col("__s4t")) / col("n"))
      .select(col("k"), col("n"),
        round(when(col("__den") > 0,
          d(col("n") - 1L) * col("__num") / col("__den")), 4).as("t_stat"))
  }

  /** Theta-method forecast per keyed series (Assimakopoulos &
    * Nikolopoulos 2000, θ = 2 — the M3-competition winner and the
    * standard "hard to beat" classical baseline next to D21's Holt
    * and D29's Croston): decompose into the θ=0 line (the OLS trend,
    * long-run direction) and the θ=2 line (curvature doubled,
    * 2x_t − trend_t) smoothed by α=½ SES (short-run level), and
    * forecast their average.
    *
    * Portability: the D21 fold contract end to end — ordinals and
    * OLS moments exact integers; trend coefficients fixed to integer
    * MICRO-units via floor(x+0.5) on identically-rounded doubles;
    * the θ=2 series is integer micro by construction and its SES
    * fold is floor-of-double halving with a SELF-ONLY state field;
    * all micro outputs publish via the integer-grain
    * round(micro/100)/10⁴ (the q321 halfway-flip contract).
    *
    * Output: keys ++ (n, trend_slope, ses_level, forecast_next) —
    * series with n < 3 are excluded (no trend to fit).
    */
  def thetaForecast(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
    val base = series
      .select(keys.map(col) ++ Seq(col(orderCol),
        col(valueCol).cast("long").as("__y")): _*)
      .withColumn("__t", row_number().over(w).cast("long"))
    val mom = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__t"))).as("__st"),
        sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__t")) * col("__y")).as("__sty"),
        sum(dec(col("__t")) * col("__t")).as("__stt"))
      .filter(col("__n") >= 3)
      // micro-unit OLS coefficients, floor(x+0.5)-pinned
      .withColumn("__bu",
        floor(d((col("__sty") * col("__n") - col("__st") * col("__sy")) *
          lit(1000000L)) /
          d(col("__stt") * col("__n") - col("__st") * col("__st")) + 0.5)
          .cast("long"))
      .withColumn("__au",
        floor(d(col("__sy") * lit(1000000L) - col("__st") * col("__bu")) /
          col("__n") + 0.5).cast("long"))
    base.join(broadcast(mom), keys)
      // θ=2 line in exact micro-units: 2·y·1e6 − (a + b·t)
      .withColumn("__t2u",
        col("__y") * 2000000L - (col("__au") + col("__bu") * col("__t")))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__au")).as("__au"),
        max(col("__bu")).as("__bu"),
        sort_array(collect_list(struct(col("__t").as("t"),
          col("__t2u").as("u")))).as("__ps"))
      .withColumn("__l", expr(
        """aggregate(
          |  transform(slice(__ps, 2, size(__ps) - 1), p -> p.u),
          |  element_at(__ps, 1).u,
          |  (a, u) -> CAST(floor((u + a) / 2.0) AS BIGINT))""".stripMargin))
      .select(keys.map(col) ++ Seq(col("n"),
        (round(d(col("__bu")) / 100.0).cast("long") / 10000.0)
          .as("trend_slope"),
        (round(d(col("__l")) / 100.0).cast("long") / 10000.0).as("ses_level"),
        (round(d(col("__l") + col("__au") + col("__bu") * (col("n") + 1L)) /
          200.0).cast("long") / 10000.0).as("forecast_next")): _*)
  }

  /** Hurst exponent via rescaled range per keyed series (Hurst 1951 /
    * Mandelbrot's R/S analysis) — the long-memory diagnostic the
    * short-lag family (D8 ACF, D17 DW, D34 runs) cannot see:
    * H ≈ 0.5 random walk / no memory, H > 0.5 persistent trends,
    * H < 0.5 mean-reverting. Per block size m ∈ {8,16,32}: split the
    * ordinal series into complete blocks, R = range of the demeaned
    * partial sums, S = population sd, average R/S per size, and H =
    * the ln–ln slope over the three sizes.
    *
    * Exactness: multiply-through demeaning per block — e'_t =
    * m·x_t − Σx is EXACT integer, its partial sums P' exact decimal
    * (P'_m = 0, so the range includes the origin by construction),
    * and R/S = (maxP'−minP')·√m/√Σe'² is one double expression per
    * block rounded 6dp before the block-count-sized mean; the slope
    * runs on the PUBLISHED 4dp size means.
    *
    * Output: keys ++ (n, rs4, rs8, rs16, hurst) — hurst null unless
    * all three sizes have ≥1 nondegenerate block. (The bank starts
    * at 4 so the exponent exists for month-scale series; R/S on
    * larger banks needs only a longer calendar, not new code.)
    */
  def hurstRS(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String,
      sizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    require(sizes == Seq(4, 8, 16), "fixed size bank (output schema)")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
    val base = series
      .select(keys.map(col) ++ Seq(col(orderCol),
        col(valueCol).cast("long").as("__y")): _*)
      .withColumn("__t", (row_number().over(w) - 1L).cast("long"))
      .withColumn("__m", explode(array(sizes.map(lit(_)): _*)))
      .withColumn("__b", expr("__t div __m"))
    val bkeys = keys.map(col) ++ Seq(col("__m"), col("__b"))
    val btot = base.groupBy(bkeys: _*)
      .agg(count(lit(1)).as("__c"), sum("__y").as("__s"))
      .filter(col("__c") === col("__m"))
    val wb = Window.partitionBy(bkeys: _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocks = base.join(btot, keys :+ "__m" :+ "__b")
      .withColumn("__e", dec(col("__y")) * col("__m") - col("__s"))
      .withColumn("__P", sum("__e").over(wb))
      .groupBy(bkeys: _*)
      .agg(max(col("__P")).as("__mx"), min(col("__P")).as("__mn"),
        sum(col("__e") * col("__e")).as("__ee"))
      .filter(col("__ee") > 0)
      .withColumn("__rs",
        round(d(col("__mx") - col("__mn")) * sqrt(d(col("__m"))) /
          sqrt(d(col("__ee"))), 6))
    val perSize = blocks.groupBy(keys.map(col) :+ col("__m"): _*)
      .agg(round(sum("__rs") / count(lit(1)), 4).as("__rsm"))
    val nTab = series.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    nTab.join(
      perSize.groupBy(keys.map(col): _*)
        .agg(
          max(when(col("__m") === 4, col("__rsm"))).as("rs4"),
          max(when(col("__m") === 8, col("__rsm"))).as("rs8"),
          max(when(col("__m") === 16, col("__rsm"))).as("rs16")),
      keys, "left")
      // 3-point OLS of ln(rs) on ln(m): slope = Σ(x−x̄)(y−ȳ)/Σ(x−x̄)²
      // with x = ln 4, ln 8, ln 16 equally spaced in ln 2 — so the
      // slope collapses to (ln rs16 − ln rs4) / (2 ln 2)
      .select(keys.map(col) ++ Seq(col("n"), col("rs4"), col("rs8"),
        col("rs16"),
        round(when(col("rs4") > 0 && col("rs8").isNotNull && col("rs16") > 0,
          (log(col("rs16")) - log(col("rs4"))) / (lit(2.0) * log(lit(2.0)))), 4)
          .as("hurst")): _*)
  }

  /** Cox–Stuart trend test per keyed series — the assumption-free
    * "is there ANY monotone drift" sign test (D15's Theil–Sen
    * estimates the slope, D23's Mann–Kendall ranks all pairs; Cox–
    * Stuart is the O(n) screen that pairs each point with its
    * half-series successor): drop the middle point of an odd series,
    * pair x_i with x_{i+⌈n/2⌉}, S = #(later > earlier) among the m
    * non-tied pairs, z = sign(2S−m)·(|2S−m|−1)/√m (continuity-
    * corrected binomial).
    *
    * Exactness: the series rides ONE per-key sorted array (the Holt
    * q272 convention — engine-identical 1-based indexing); pair signs
    * and S are exact integers; z is one double, 4dp.
    *
    * Output: keys ++ (n, n_pos, n_neg, z) — z null when every pair
    * ties (m = 0).
    */
  def coxStuart(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    df.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("long").as("x")))).as("__s"))
      .withColumn("__n", size(col("__s")))
      .withColumn("__m", (col("__n") / 2).cast("int"))
      // pair i with i + ceil(n/2): skips the middle point when n is odd
      .withColumn("__h", col("__n") - col("__m"))
      .withColumn("__pos", size(filter(sequence(lit(1), col("__m")),
        i => col("__s")(i + col("__h") - 1)("x") > col("__s")(i - 1)("x"))))
      .withColumn("__neg", size(filter(sequence(lit(1), col("__m")),
        i => col("__s")(i + col("__h") - 1)("x") < col("__s")(i - 1)("x"))))
      .withColumn("__mm", col("__pos") + col("__neg"))
      .withColumn("__k", lit(2L) * col("__pos") - col("__mm"))
      .select(keys.map(col) ++ Seq(col("__n").cast("long").as("n"),
        col("__pos").cast("long").as("n_pos"),
        col("__neg").cast("long").as("n_neg"),
        round(when(col("__mm") > 0 && col("__k") =!= 0,
          signum(d(col("__k"))) * (abs(d(col("__k"))) - 1.0) /
            sqrt(d(col("__mm")))).when(col("__mm") > 0, lit(0.0)), 4)
          .as("z")): _*)
  }

  /** Turning-point + difference-sign randomness tests per keyed
    * series — the two classical IID screens that catch OPPOSITE
    * failure modes (too few turning points = trend/momentum, a
    * skewed difference-sign count = drift) before any model-bound
    * diagnostic (D17 Durbin–Watson) is trusted: T = #{strict local
    * extrema}, z_tp = (T − 2(n−2)/3)/√((16n−29)/90); U = #{x_t >
    * x_{t−1}}, z_ds = (U − (n−1)/2)/√((n+1)/12).
    *
    * Ties: a flat step (x_t = x_{t−1}) is neither an ascent nor an
    * extremum — strict inequalities throughout, the standard
    * discrete-data treatment, identically mirrored in the oracle.
    *
    * Exactness: counts are exact longs off lag/lead windows at
    * series grain (an aggregate frame, never corpus rows); each z is
    * one double of exact integers, 4dp.
    *
    * Output: keys ++ (n, n_turning, z_tp, n_up, z_ds).
    */
  def turningPoints(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
    df.select(keys.map(col) ++ Seq(col(orderCol),
      col(valueCol).cast("long").as("__x")): _*)
      .withColumn("__p", lag("__x", 1).over(w))
      .withColumn("__f", lead("__x", 1).over(w))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__p").isNotNull && col("__f").isNotNull &&
          ((col("__x") > col("__p") && col("__x") > col("__f")) ||
            (col("__x") < col("__p") && col("__x") < col("__f"))), 1L)
          .otherwise(0L)).as("n_turning"),
        sum(when(col("__x") > col("__p"), 1L).otherwise(0L)).as("n_up"))
      .select(keys.map(col) ++ Seq(col("n"), col("n_turning"),
        round(when(col("n") >= 3,
          (d(col("n_turning")) - lit(2.0) * (d(col("n")) - 2.0) / 3.0) /
            sqrt((lit(16.0) * d(col("n")) - 29.0) / 90.0)), 4).as("z_tp"),
        col("n_up"),
        round(when(col("n") >= 2,
          (d(col("n_up")) - (d(col("n")) - 1.0) / 2.0) /
            sqrt((d(col("n")) + 1.0) / 12.0)), 4).as("z_ds")): _*)
  }

  /** Split-conformal calibration report (F110, Vovk's conformal
    * prediction in its simplest production form — Angelopoulos &
    * Bates 2021): on a deterministic calibration split, take the
    * ⌈(n+1)(1−α)⌉-th smallest nonconformity score (|y − ŷ| against
    * the calibration-split group mean), and MEASURE the held-out
    * coverage of ŷ ± q̂. The distribution-free interval machinery
    * every "give me error bars on the model" request actually needs
    * — finite-sample valid with no normality anywhere.
    *
    * Determinism: the split is the G15 md5-uniform; nonconformity is
    * the EXACT integer multiply-through |c·n_cal − Σc_cal| (no mean
    * rounding); q̂ is an ORDER STATISTIC over the value-grain score
    * table (exact integer rank — no interpolation, no percentile
    * ulps); coverage compares exact integers.
    *
    * Scale shape: one conditional combine to group totals; scores
    * collapse to (group, score) grain before the cumulative rank
    * window (the F25 value-grain contract); coverage is one more
    * conditional combine against the broadcast q̂ row.
    *
    * Output per group: (n_cal, n_test, q_hat — published in value
    * units, 4dp — coverage, nominal) — coverage ≥ nominal up to
    * finite-sample noise is the conformal guarantee.
    */
  def conformalCalibration(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      alpha: Double = 0.1,
      salt: String = "conf"): DataFrame = {
    require(alpha > 0 && alpha < 1)
    val pctNum = math.round((1 - alpha) * 10).toInt // tenths of (1-α)
    require(pctNum > 0 && pctNum < 10, "alpha in tenths")
    val u = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":" + salt))), 1, 6), 16, 10).cast("long")
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), cents(col(valueCol)).as("__c"), (u % 2 === 0).as("__cal"))
    val tot = base.filter(col("__cal"))
      .groupBy("g")
      .agg(count(lit(1)).as("__nc"), sum(dec(col("__c"))).as("__sc"))
    val scored = base.join(broadcast(tot), "g")
      .withColumn("__s", abs(dec(col("__c")) * col("__nc") - col("__sc")))
    val calGrain = scored.filter(col("__cal"))
      .groupBy("g", "__s").agg(count(lit(1)).as("__n"))
    val wCum = Window.partitionBy("g").orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = calGrain
      .withColumn("__cum", sum("__n").over(wCum))
      .join(broadcast(tot), "g")
      // r = ceil((1-α)(n+1)) in exact integers
      .withColumn("__r",
        expr(s"($pctNum * (__nc + 1) + 9) div 10"))
      .filter(col("__cum") >= col("__r"))
      .groupBy("g").agg(min("__s").as("__q"))
    scored.filter(!col("__cal"))
      .join(broadcast(qhat), "g")
      .groupBy("g")
      .agg(max(col("__nc")).as("n_cal"), count(lit(1)).as("n_test"),
        max(col("__q")).as("__qm"), max(col("__nc")).as("__ncm"),
        sum(when(col("__s") <= col("__q"), 1L).otherwise(0L)).as("__cov"))
      .select(col("g").as(groupCol), col("n_cal"), col("n_test"),
        round(d(col("__qm")) / (d(col("__ncm")) * 100.0), 4).as("q_hat"),
        round(d(col("__cov")) / col("n_test"), 4).as("coverage"),
        lit(1 - alpha).as("nominal"))
  }

  /** Deming regression (F111, errors-in-variables with δ = 1 —
    * orthogonal least squares): the method-comparison slope when
    * BOTH series carry noise, where OLS (F36/D9) is biased toward
    * zero by design. The clinical-chemistry standard for "do these
    * two instruments measure the same thing": slope ≈ 1 and
    * intercept ≈ 0 mean interchangeable methods. β = [S_yy − S_xx +
    * √((S_yy−S_xx)² + 4S_xy²)]/(2S_xy) on centered moments.
    *
    * Exactness: raw moments exact decimal(38,0); centered sums are
    * exact multiply-throughs (scale n cancels in β); the final chain
    * is ONE pinned double expression, 4dp. Undefined (null) when
    * S_xy = 0 — no association to fit through.
    *
    * Output: one row (n, slope, intercept).
    */
  def deming(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__x"))).as("__sx"),
        sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__x")) * col("__x")).as("__sxx"),
        sum(dec(col("__y")) * col("__y")).as("__syy"),
        sum(dec(col("__x")) * col("__y")).as("__sxy"))
      .withColumn("__cxx", d(col("__sxx") * col("n") - col("__sx") * col("__sx")))
      .withColumn("__cyy", d(col("__syy") * col("n") - col("__sy") * col("__sy")))
      .withColumn("__cxy", d(col("__sxy") * col("n") - col("__sx") * col("__sy")))
      .withColumn("__b",
        when(col("__cxy") =!= 0.0,
          (col("__cyy") - col("__cxx") +
            sqrt((col("__cyy") - col("__cxx")) * (col("__cyy") - col("__cxx")) +
              lit(4.0) * col("__cxy") * col("__cxy"))) /
            (lit(2.0) * col("__cxy"))))
      .select(col("n"), round(col("__b"), 4).as("slope"),
        round((d(col("__sy")) - col("__b") * d(col("__sx"))) / col("n"), 4)
          .as("intercept"))
  }

  /** Dickey–Fuller unit-root test per keyed series (D40, the lag-0
    * member — no augmentation terms): regress Δx_t on x_{t−1} with
    * intercept and read τ = γ̂/se(γ̂). The null is a RANDOM WALK
    * (γ = 0 — shocks permanent), the alternative mean reversion
    * (γ < 0); the mirror of D36's KPSS (whose null is stationarity)
    * — run both: agreeing verdicts settle it, disagreeing ones say
    * "near-integrated, difference before modeling".
    *
    * Exactness: lag pairs ride one per-key window; the five
    * regression moments are exact decimal(38,0); centered sums are
    * exact multiply-throughs (S_zz = mΣz²−(Σz)² etc.), and γ̂, RSS,
    * se, τ are ONE pinned written-order double chain, 4dp.
    * (τ compares against the Dickey–Fuller table, not normal z —
    * −2.86 at 5% for the constant-only form.)
    *
    * Output: keys ++ (n, gamma, tau) — null when the lagged level
    * has no variance or m < 3.
    */
  def dickeyFuller(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
    df.select(keys.map(col) ++ Seq(col(orderCol),
      col(valueCol).cast("long").as("__x")): _*)
      .withColumn("__z", lag("__x", 1).over(w))
      .filter(col("__z").isNotNull)
      .withColumn("__y", col("__x") - col("__z"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__m"),
        sum(dec(col("__z"))).as("__sz"),
        sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__z")) * col("__y")).as("__szy"),
        sum(dec(col("__z")) * col("__z")).as("__szz"),
        sum(dec(col("__y")) * col("__y")).as("__syy"))
      .withColumn("__Czz", col("__szz") * col("__m") - col("__sz") * col("__sz"))
      .withColumn("__Czy", col("__szy") * col("__m") - col("__sz") * col("__sy"))
      .withColumn("__Cyy", col("__syy") * col("__m") - col("__sy") * col("__sy"))
      .select(keys.map(col) ++ Seq((col("__m") + 1L).as("n"),
        round(when(col("__Czz") > 0, d(col("__Czy")) / d(col("__Czz"))), 4)
          .as("gamma"),
        round(when(col("__Czz") > 0 && col("__m") >= 3 &&
          d(col("__Cyy")) - d(col("__Czy")) * d(col("__Czy")) / d(col("__Czz")) > 0,
          (d(col("__Czy")) / d(col("__Czz"))) /
            sqrt((d(col("__Cyy")) -
              d(col("__Czy")) * d(col("__Czy")) / d(col("__Czz"))) /
              ((d(col("__m")) - 2.0) * d(col("__Czz"))))), 4).as("tau")): _*)
  }

  /** KPSS level-stationarity statistic per keyed series (lag-0
    * short-run variance) — the null-reversed companion to the
    * changepoint/trend family: D16/D23 hunt for a change, KPSS
    * scores how UN-stationary the level already is (η ≈ 0.05 for a
    * level-stationary series; > 0.463 rejects at 5%):
    * η = Σ S_t² / (n·s̄²·n²) with S_t the partial sums of the
    * demeaned series and s̄² the plain variance.
    *
    * Exactness: multiply-through demeaning — e_t = x_t·n − Σx is an
    * EXACT integer, its partial sums P_t ride decimal(38,0), and
    * η = ΣP_t² / (n·Σe_t²) cancels every divisor so the statistic is
    * exact integers until ONE final division, 4dp.
    *
    * Scale shape: series totals at key grain broadcast back; the
    * partial-sum window runs per key over the aggregate-grain frame.
    *
    * Output: keys ++ (n, eta) — null when the series is constant.
    */
  def kpss(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(keys.map(col) ++ Seq(col(orderCol),
      col(valueCol).cast("long").as("__x")): _*)
    val tot = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum("__x").as("__sx"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(tot), keys)
      .withColumn("__e", dec(col("__x")) * col("__n") - col("__sx"))
      .withColumn("__P", sum("__e").over(w))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"),
        sum(col("__P") * col("__P")).as("__pp"),
        sum(col("__e") * col("__e")).as("__ee"))
      .select(keys.map(col) ++ Seq(col("n"),
        round(when(col("__ee") > 0,
          d(col("__pp")) / (d(col("n")) * d(col("__ee")))), 4)
          .as("eta")): _*)
  }

}
