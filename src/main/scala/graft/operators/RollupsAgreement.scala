package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-shape, agreement and rank-test rollups added in the
  * round-16 continuation (shard hygiene — the RollupsEval pattern):
  * Kuiper, Jarque–Bera, Brunner–Munzel, Ansari–Bradley/Lepage, Quade,
  * Fleiss, ICC, concordance/Bland–Altman, Hodges–Lehmann, Theil's U,
  * ordinal association, Hosmer–Lemeshow. Mixed into the `Rollups`
  * object so call sites read `Rollups.<op>`.
  */
private[operators] trait RollupsAgreement extends RollupsScaleForms {

  /** Kuiper two-sample statistic (F123) — V = D⁺ + D⁻, the sum of the
    * largest CDF exceedances in EACH direction. Where F25's KS takes
    * one sup (and goes blind near the distribution tails and to
    * shifts that cancel), Kuiper weights both directions equally and
    * is invariant to cyclic shifts — the right gate for wrapped
    * domains (time-of-day mixes) and for "B is sometimes above,
    * sometimes below" alternatives KS underpowers.
    *
    * Exactness: the ksTest frame verbatim — value-grain collapse,
    * integer cross-multiplied CDF gaps F1·n2 − F2·n1 (exact longs),
    * D⁺/D⁻ as greatest(max, 0) — division only at the final V.
    *
    * Output: one row (n1, n2, d_plus, d_minus, v), 4dp.
    */
  def kuiperTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val totals = pts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    grainGuarded(pts, cumRows, "kuiperTest")
      .withColumn("__f1", sum("c1").over(cumRows))
      .withColumn("__f2", sum("c2").over(cumRows))
      .crossJoin(broadcast(totals))
      .groupBy("n1", "n2")
      .agg(
        greatest(max(col("__f1") * col("n2") - col("__f2") * col("n1")), lit(0L))
          .as("__dp"),
        greatest(max(col("__f2") * col("n1") - col("__f1") * col("n2")), lit(0L))
          .as("__dm"))
      .select(col("n1"), col("n2"),
        round(d(col("__dp")) / (d(col("n1")) * d(col("n2"))), 4).as("d_plus"),
        round(d(col("__dm")) / (d(col("n1")) * d(col("n2"))), 4).as("d_minus"),
        round(d(col("__dp") + col("__dm")) / (d(col("n1")) * d(col("n2"))), 4)
          .as("v"))
  }

  /** Jarque–Bera normality screen per group (F115) — JB = n/6·(S² +
    * K²/4) from sample skewness S and excess kurtosis K: the
    * one-number "is this bell-shaped" gate (χ²₂ null; JB > 5.99
    * rejects at 5%). The distribution-SHAPE member beside the
    * location (F31), scale (F65) and rank (F27) families — heavy
    * tails and asymmetry are what break the t/z machinery upstream.
    *
    * Exactness: central moment sums via exact multiply-throughs in
    * decimal(38,0) — M2 = nΣx²−S², M3 = n²Σx³−3nSΣx²+2S³,
    * M4 = n³Σx⁴−4n²SΣx³+6nS²Σx²−3S⁴ (m_k = M_k/n^{k+1}) — then ONE
    * pinned double chain for S, K, JB, 4dp.
    *
    * Output: (group, n, skew, ex_kurt, jb) — null shape stats for
    * constant groups.
    */
  def jarqueBera(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val x = dec(col("__x"))
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), cents(col(valueCol)).as("__x"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x).as("__s1"), sum(x * x).as("__s2"),
        sum(x * x * x).as("__s3"), sum(x * x * x * x).as("__s4"))
      .withColumn("__n", dec(col("n")))
      .withColumn("__m2", col("__n") * col("__s2") - col("__s1") * col("__s1"))
      .withColumn("__m3",
        col("__n") * col("__n") * col("__s3") -
          dec(lit(3L)) * col("__n") * col("__s1") * col("__s2") +
          dec(lit(2L)) * col("__s1") * col("__s1") * col("__s1"))
      .withColumn("__m4",
        col("__n") * col("__n") * col("__n") * col("__s4") -
          dec(lit(4L)) * col("__n") * col("__n") * col("__s1") * col("__s3") +
          dec(lit(6L)) * col("__n") * col("__s1") * col("__s1") * col("__s2") -
          dec(lit(3L)) * col("__s1") * col("__s1") * col("__s1") * col("__s1"))
      // m2 = M2/n², m3 = M3/n³, m4 = M4/n⁴ — the n powers cancel
      // exactly in both ratios: S = M3/M2^1.5, K = M4/M2² − 3
      .withColumn("__skew",
        when(col("__m2") > 0,
          d(col("__m3")) / (d(col("__m2")) * sqrt(d(col("__m2"))))))
      .withColumn("__kurt",
        when(col("__m2") > 0,
          d(col("__m4")) / (d(col("__m2")) * d(col("__m2"))) - 3.0))
      .select(col(groupCol), col("n"),
        round(col("__skew"), 4).as("skew"),
        round(col("__kurt"), 4).as("ex_kurt"),
        round(d(col("n")) / 6.0 *
          (col("__skew") * col("__skew") +
            col("__kurt") * col("__kurt") / 4.0), 4).as("jb"))
  }

  /** Benjamini–Yekutieli FDR adjustment (F114) — F21's BH step-up
    * with the harmonic inflation c(m) = Σ_{i≤m} 1/i that makes the
    * FDR guarantee hold under ARBITRARY dependence (BH assumes
    * independence/PRDS; correlated hypothesis tables — exactly what
    * q19's pairwise correlations are — void it). The honest-but-
    * conservative knob: p_adj = min suffix of p·m·c(m)/rank.
    *
    * Determinism: c(m) is an ORDERED fold over 1..m (Spark aggregate
    * with 0.0 init ≡ DuckDB list_reduce seeded by the first element —
    * 0.0 + x = x exactly, so both engines walk identical doubles).
    *
    * Scale shape: the bhAdjust contract verbatim — hypothesis-grain
    * only, loud cap on the global rank window.
    */
  def byAdjust(
      df: DataFrame,
      pCol: String,
      tieCols: Seq[String],
      alpha: Double = 0.05): DataFrame = {
    val ord = Window.orderBy((col(pCol) +: tieCols.map(col)): _*)
    val all = Window.partitionBy()
    val suffix = Window.orderBy(col("p_rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cap = graft.GraftConf.ValueGrainCap
    df.filter(col(pCol).isNotNull)
      .withColumn("p_rank",
        when(row_number().over(ord) > cap,
          raise_error(lit(s"graft.byAdjust: hypothesis grain exceeds " +
            s"ValueGrainCap=$cap — byAdjust takes one row per tested " +
            "hypothesis, never row-grain data; aggregate upstream")))
          .otherwise(row_number().over(ord)).cast("long"))
      .withColumn("_m", count(lit(1)).over(all))
      .withColumn("_cm", aggregate(sequence(lit(1L), col("_m")),
        lit(0.0), (acc, i) => acc + lit(1.0) / d(i)))
      .withColumn("p_adj",
        round(least(lit(1.0),
          min(col(pCol) * col("_m") * col("_cm") / col("p_rank"))
            .over(suffix)), 4))
      .withColumn("significant", col("p_adj") <= alpha)
      .drop("_m", "_cm")
  }

  /** Lin's concordance + Bland–Altman agreement report (F120) — the
    * method-comparison bundle: Pearson r asks "do they co-vary", Lin's
    * CCC = 2s_xy/(s_x²+s_y²+(x̄−ȳ)²) asks "do they agree on the 45°
    * line" (penalizing both scale and location shift), and the
    * Bland–Altman bias ± 1.96·SD limits say WHERE the disagreement
    * lives in measurement units. The report F111's Deming slope is
    * read next to.
    *
    * Exactness: one exact decimal(38,0) moment pass; every statistic
    * is a pinned double chain over the n²-scaled centered sums
    * (CCC's denominator terms all carry the same n² scale, so
    * (Sx−Sy)² joins Cxx/Cyy unscaled; difference moments fold from
    * the same pass: Σd = Sy−Sx, Σd² = Syy−2Sxy+Sxx).
    *
    * Output: one row (n, r, ccc, bias, sd_diff, loa_lo, loa_hi), 4dp.
    */
  def concordanceAgreement(
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
      .withColumn("__n", dec(col("n")))
      .withColumn("__cxx", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__cyy", col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .withColumn("__cxy", col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dd", col("__sy") - col("__sx"))
      .withColumn("__sd2",
        when(col("n") > 1L,
          sqrt(d(col("__n") * (col("__syy") -
            dec(lit(2L)) * col("__sxy") + col("__sxx")) -
            col("__dd") * col("__dd")) /
            (d(col("n")) * d(col("n") - 1L)))))
      .withColumn("__bias", d(col("__dd")) / d(col("n")))
      .select(col("n"),
        round(when(col("__cxx") > 0 && col("__cyy") > 0,
          d(col("__cxy")) / sqrt(d(col("__cxx")) * d(col("__cyy")))), 4).as("r"),
        round(when(col("__cxx") + col("__cyy") > 0 || col("__dd") =!= 0,
          lit(2.0) * d(col("__cxy")) /
            (d(col("__cxx")) + d(col("__cyy")) + d(col("__dd") * col("__dd")))), 4)
          .as("ccc"),
        round(col("__bias"), 4).as("bias"),
        round(col("__sd2"), 4).as("sd_diff"),
        round(col("__bias") - lit(1.96) * col("__sd2"), 4).as("loa_lo"),
        round(col("__bias") + lit(1.96) * col("__sd2"), 4).as("loa_hi"))
  }

  /** Hodges–Lehmann two-sample shift estimate (F124) — the median of
    * all n1·n2 pairwise differences: the robust "HOW FAR is B above
    * A" that F27's Mann–Whitney significance and F73's Cliff's
    * magnitude both stop short of, 29% efficiency loss vs the mean
    * at the normal and immune to outliers.
    *
    * Exactness and scale: pairwise differences NEVER materialize at
    * data grain — both samples collapse to value-grain cent tables
    * (bounded support, the ksTest contract), the difference
    * distribution is the ≤ V² weighted cross of those grains, and the
    * weighted median reads exact cumulative longs at rank
    * ⌈T/2⌉/⌈(T+1)/2⌉ (even T averages the straddle pair — carried
    * DOUBLED so the half stays exact; one final /200 to dollars).
    *
    * Output: one row (n1, n2, hl).
    */
  def hodgesLehmann(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val base = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val a = base.filter(col("c1") > 0).select(col("v"), col("c1"))
    // the broadcast-nested-loop cross expands V1·V2 rows out of the
    // STREAM side's partitions — post-checkpoint the value-grain table
    // sits in one or two partitions, so without spread() the whole
    // expansion ran on one core (42.8 s at sf0.1, V ≈ 10k per side);
    // spread() repartitions the ~V2 stream rows to defaultParallelism
    // first (r16). Weights multiply/aggregate in LONG on the V²-row hot
    // path — c1·c2 ≤ n1·n2 < 2⁶³ for any n1, n2 < 2³¹ (group sizes are
    // 32-bit-bounded long counts; the sum per diff group is ≤ n1·n2) —
    // and only the ≤(value-span)-row aggregated diff table widens to
    // decimal for the cumulative/threshold math.
    val b = spread(base.filter(col("c2") > 0).select(col("v").as("w"), col("c2")))
    val totals = base.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val diffs = b.crossJoin(broadcast(a))
      .groupBy((col("w") - col("v")).as("__d"))
      .agg(sum(col("c1") * col("c2")).as("__wl"))
      .select(col("__d"), dec(col("__wl")).as("__wt"))
    val wCum = Window.orderBy("__d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grainGuarded(diffs, wCum, "hodgesLehmann")
      .withColumn("__cum", sum("__wt").over(wCum))
      .crossJoin(broadcast(totals))
      .withColumn("__t", dec(col("n1")) * dec(col("n2")))
      .localCheckpoint()
    val lo = cum.filter(col("__cum") * 2 >= col("__t"))
      .agg(min("__d").as("__dlo"))
    val hi = cum.filter(col("__cum") * 2 >= col("__t") + 1)
      .agg(min("__d").as("__dhi"))
    totals.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n1"), col("n2"),
        round((d(col("__dlo")) + d(col("__dhi"))) / 200.0, 4).as("hl"))
  }

  /** Brunner–Munzel test (F112) — the rank-based Behrens–Fisher: does
    * P(A < B) + ½P(A = B) = ½, WITHOUT Mann–Whitney's hidden
    * equal-variance assumption (F27 is only exact under a pure shift;
    * under unequal spread its level breaks — BM studentizes with each
    * group's own placement variance). The default two-sample rank
    * test when the groups may differ in shape, plus the stochastic-
    * superiority estimate p̂ itself.
    *
    * Exactness: pooled AND within-group doubled midranks (2·rank +
    * ties − 1); the placement Q = R2 − r2 is an exact integer, and
    * Σr2 over a group is n(n+1) exactly, so p̂ = ΣQ_B/(2·n_A·n_B) and
    * each S_i² = (n·ΣQ² − (ΣQ)²)/(4n(n−1)) are ratios of exact
    * decimals; W is one pinned double chain, 4dp.
    *
    * Scale shape: the pooled-rank window and both within-group
    * windows ride value-sorted (group-)partitions; one group-grain
    * combine. O(1) window state.
    *
    * Output: one row (n1, n2, p_hat, w_bm).
    */
  def brunnerMunzel(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    // value-grain collapse (the ksTest contract): the placement of an
    // A-observation at value v is 2·#{B below} + #{B tied} — one
    // cumulative window over the grain, never a data-grain rank
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val q = grainGuarded(pts, cumRows, "brunnerMunzel")
      .withColumn("__f1p", sum("c1").over(cumRows) - col("c1"))
      .withColumn("__f2p", sum("c2").over(cumRows) - col("c2"))
      .withColumn("__qa", lit(2L) * col("__f2p") + col("c2"))
      .withColumn("__qb", lit(2L) * col("__f1p") + col("c1"))
    val agg = q.groupBy()
      .agg(sum("c1").as("n1"), sum("c2").as("n2"),
        sum(dec(col("c1")) * dec(col("__qa"))).as("__sqa"),
        sum(dec(col("c1")) * dec(col("__qa")) * dec(col("__qa")))
          .as("__sqqa"),
        sum(dec(col("c2")) * dec(col("__qb"))).as("__sqb"),
        sum(dec(col("c2")) * dec(col("__qb")) * dec(col("__qb")))
          .as("__sqqb"))
    def s2(n: Column, sq: Column, sqq: Column): Column =
      d(dec(n) * sqq - sq * sq) / (lit(4.0) * d(n) * d(n - 1L))
    agg
      .withColumn("__s2a", when(col("n1") > 1L, s2(col("n1"), col("__sqa"), col("__sqqa"))))
      .withColumn("__s2b", when(col("n2") > 1L, s2(col("n2"), col("__sqb"), col("__sqqb"))))
      .withColumn("__md",
        d(col("__sqb")) / (lit(2.0) * d(col("n2"))) -
          d(col("__sqa")) / (lit(2.0) * d(col("n1"))) +
          d(col("n2") - col("n1")) / 2.0)
      .withColumn("__den",
        sqrt(d(col("n1")) * col("__s2a") + d(col("n2")) * col("__s2b")))
      .select(col("n1"), col("n2"),
        round(d(col("__sqb")) / (lit(2.0) * d(col("n1")) * d(col("n2"))), 4)
          .as("p_hat"),
        round(when(col("__den") > 0,
          d(col("n1")) * d(col("n2")) * col("__md") /
            (d(col("n1") + col("n2")) * col("__den"))), 4).as("w_bm"))
  }

  /** Ansari–Bradley scale test + Lepage location–scale combination
    * (F113) — AB scores a = min(R, N+1−R) peak at the distribution
    * center, so a LOW group-A score sum means A hugs the tails
    * (larger spread): the rank test for "same center, different
    * width" that completes the variance-homogeneity family's
    * normal-theory members with a fully distribution-free one.
    * Lepage L = z_W² + z_AB² (χ²₂ null) screens location AND scale
    * in one number — the nonparametric Levene+t bundle.
    *
    * Exactness: doubled midranks make doubled AB scores exact
    * integers (a2 = min(R2, 2(N+1) − R2)); both z's use the
    * CONDITIONAL permutation moments of the realized score vector —
    * z = (N·T − n_A·Σs)/√(n_A·n_B·(N·Σs² − (Σs)²)/(N−1)) — so ties
    * need no correction table: the realized scores ARE the
    * population. Exact decimals, two pinned chains, 4dp.
    *
    * Output: one row (n1, n2, z_w, z_ab, lepage).
    */
  def ansariLepage(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    // value-grain collapse: every observation at value v carries the
    // SAME doubled midrank R2(v) = 2·F_prev + c + 1 and AB score, so
    // score moments are c-weighted sums over the grain — one
    // cumulative window, never a data-grain rank
    val pts = twoGroupGrain(df, groupCol, valueCol, groupA, groupB)
    val totals = pts.agg((sum("c1") + sum("c2")).as("__N"))
    val scored = grainGuarded(pts, cumRows, "ansariLepage")
      .withColumn("__c", col("c1") + col("c2"))
      .withColumn("__R2", midrank2(byValue, col("__c"), col("__c")))
      .crossJoin(broadcast(totals))
      .withColumn("__a2",
        least(col("__R2"), lit(2L) * (col("__N") + 1L) - col("__R2")))
    val agg = scored.groupBy()
      .agg(max("__N").as("__N"),
        sum("c1").as("n1"), sum("c2").as("n2"),
        sum(dec(col("c1")) * dec(col("__R2"))).as("__tw"),
        sum(dec(col("__c")) * dec(col("__R2"))).as("__sw"),
        sum(dec(col("__c")) * dec(col("__R2")) * dec(col("__R2")))
          .as("__sww"),
        sum(dec(col("c1")) * dec(col("__a2"))).as("__ta"),
        sum(dec(col("__c")) * dec(col("__a2"))).as("__sa"),
        sum(dec(col("__c")) * dec(col("__a2")) * dec(col("__a2")))
          .as("__saa"))
    def z(t: Column, s: Column, ss: Column): Column = {
      val nn = dec(col("__N"))
      val num = nn * t - dec(col("n1")) * s
      val v = dec(col("n1")) * dec(col("n2")) * (nn * ss - s * s)
      when(v > 0,
        d(num) / sqrt(d(v) / d(col("__N") - 1L)))
    }
    agg
      .withColumn("__zw", z(col("__tw"), col("__sw"), col("__sww")))
      .withColumn("__za", z(col("__ta"), col("__sa"), col("__saa")))
      .select(col("n1"), col("n2"),
        round(col("__zw"), 4).as("z_w"),
        round(col("__za"), 4).as("z_ab"),
        round(col("__zw") * col("__zw") + col("__za") * col("__za"), 4)
          .as("lepage"))
  }

  /** Quade test (F116) — the block-design rank test that WEIGHTS
    * blocks by how much is happening in them: within-block ranks are
    * multiplied by the rank of the block's RANGE, so wide blocks
    * (where treatments actually separate) dominate and flat blocks
    * stop diluting — the higher-power alternative to F64's Friedman
    * at small k. F = (n−1)·B/(A−B) on S_ij = Q_b·(r_ij − (k+1)/2).
    *
    * Exactness: doubled midranks for BOTH rank layers make
    * S4 = Q2·(r2 − (k+1)) = 4·S an exact integer; the 16 cancels in
    * F = (n−1)·ΣS4_j²/(n·ΣS4² − ΣS4_j²) — exact decimals, one double.
    * Incomplete blocks (missing treatments) drop, the standard
    * complete-block requirement.
    *
    * Scale shape: within-block windows ride a (block) exchange; the
    * block-range rank is ONE window over the BLOCK table (aggregate
    * grain); treatment combine + one-row reduce.
    *
    * Output: one row (n_blocks, k, f_quade) — null at perfect
    * agreement (A = B).
    */
  def quade(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val cell = df.select(col(blockCol).as("__b"), col(treatmentCol).as("__tr"),
      col(valueCol).cast("long").as("__v"))
    val k = cell.select(countDistinct("__tr").as("__k"))
    val full = cell
      .withColumn("__bk", count(lit(1)).over(Window.partitionBy("__b")))
      .crossJoin(broadcast(k))
      .filter(col("__bk") === col("__k"))
      .localCheckpoint() // feeds the rank frame and the range frame
    val ranked = full.withColumn("__r2", rowMidrank2(Seq(col("__b")), col("__v")))
    val ranges = full.groupBy("__b")
      .agg(max("__v").as("__hi"), min("__v").as("__lo"), max("__k").as("__kk"))
      .withColumn("__rng", col("__hi") - col("__lo"))
      .withColumn("__q2", rowMidrank2(Nil, col("__rng")))
      .select(col("__b"), col("__q2"), col("__kk"))
    val s4 = ranked.join(ranges, "__b")
      .withColumn("__s4", col("__q2") * (col("__r2") - (col("__kk") + 1L)))
    val perTr = s4.groupBy("__tr")
      .agg(sum(dec(col("__s4"))).as("__sj"),
        sum(dec(col("__s4")) * dec(col("__s4"))).as("__sjj"),
        countDistinct("__b").as("__nb"))
    perTr.groupBy()
      .agg(max("__nb").as("n_blocks"), count(lit(1)).as("k"),
        sum(col("__sj") * col("__sj")).as("__bsum"),
        sum(col("__sjj")).as("__asum"))
      .select(col("n_blocks"), col("k"),
        round(when(
          dec(col("n_blocks")) * col("__asum") - col("__bsum") > 0,
          d(col("n_blocks") - 1L) * d(col("__bsum")) /
            d(dec(col("n_blocks")) * col("__asum") - col("__bsum"))), 4)
          .as("f_quade"))
  }

  /** Fleiss' kappa (F121) — chance-corrected agreement for r RATERS
    * per unit over k categories: the multi-annotator generalization
    * F54's two-rater kappa can't cover, on the category-count matrix
    * n_uj (how many of unit u's r raters chose category j). The
    * labeling-project QA number when every document gets the same
    * r annotators.
    *
    * Exactness: κ = (A·(nr)² − B·D)/(D·((nr)² − B)) with A = Σn²−nr,
    * B = ΣC_j², D = n·r(r−1) — every term an exact decimal(38,0)
    * product of counts; P̄ and P_e publish as pinned double ratios.
    * Units not carrying exactly r ratings drop (the constant-panel
    * requirement).
    *
    * Scale shape: one (unit, category) combine, one unit-grain
    * combine, a category-grain marginal combine, a one-row reduce.
    *
    * Output: one row (n_units, n_raters, p_bar, p_e, kappa), 4dp.
    */
  def fleissKappa(
      df: DataFrame,
      unitCol: String,
      catCol: String,
      raters: Int): DataFrame = {
    require(raters >= 2)
    val cells = df.groupBy(col(unitCol).as("__u"), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // feeds the unit rollup AND the marginals
    val units = cells.groupBy("__u")
      .agg(sum("__n").as("__r"), sum(col("__n") * col("__n")).as("__sq"))
      .filter(col("__r") === raters.toLong)
    val perUnit = units.agg(count(lit(1)).as("__nu"),
      sum(dec(col("__sq"))).as("__a0"))
    val marg = cells.join(units.select("__u"), "__u")
      .groupBy("__c").agg(sum("__n").as("__cj"))
      .agg(sum(dec(col("__cj")) * dec(col("__cj"))).as("__b"))
    perUnit.crossJoin(broadcast(marg))
      .withColumn("__n", dec(col("__nu")))
      .withColumn("__r", dec(lit(raters.toLong)))
      .withColumn("__nr", col("__n") * col("__r"))
      .withColumn("__a", col("__a0") - col("__nr"))
      .withColumn("__d", col("__n") * col("__r") * (col("__r") - dec(lit(1L))))
      .select(col("__nu").as("n_units"), lit(raters.toLong).as("n_raters"),
        round(d(col("__a")) / d(col("__d")), 4).as("p_bar"),
        round(d(col("__b")) / d(col("__nr") * col("__nr")), 4).as("p_e"),
        round(when(col("__nr") * col("__nr") - col("__b") > 0,
          d(col("__a") * col("__nr") * col("__nr") - col("__b") * col("__d")) /
            d(col("__d") * (col("__nr") * col("__nr") - col("__b")))), 4)
          .as("kappa"))
  }

  /** Intraclass correlation ICC(1,1) (F122) — one-way random-effects
    * reliability of a NUMERIC rating: what share of total variance is
    * between-unit (real signal) vs within-unit (rater noise), from
    * the ANOVA mean squares: ICC = (MSB−MSW)/(MSB+(k−1)MSW). The
    * continuous companion to [[fleissKappa]]'s categorical agreement
    * — run both when ratings are ordinal scores.
    *
    * Exactness: with U = ΣT_u², V = Σy², G the grand total, the
    * common scale nk(n−1)(k−1) gives ICC = (a−b)/(a+(k−1)b) with
    * a = (nU−G²)(k−1), b = (kV−U)(n−1) — exact decimal products;
    * MSB/MSW publish as pinned double ratios. Units without exactly
    * k ratings drop.
    *
    * Output: one row (n_units, k, msb, msw, icc), 4dp.
    */
  def iccOneWay(
      df: DataFrame,
      unitCol: String,
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2)
    val units = df
      .select(col(unitCol).as("__u"), col(valueCol).cast("long").as("__y"))
      .groupBy("__u")
      .agg(count(lit(1)).as("__r"), sum("__y").as("__t"),
        sum(dec(col("__y")) * col("__y")).as("__v"))
      .filter(col("__r") === k.toLong)
    units
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__t"))).as("__g"),
        sum(dec(col("__t")) * col("__t")).as("__uu"),
        sum(col("__v")).as("__vv"))
      .withColumn("__nn", dec(col("__n")))
      .withColumn("__kk", dec(lit(k.toLong)))
      .withColumn("__a",
        (col("__nn") * col("__uu") - col("__g") * col("__g")) *
          (col("__kk") - dec(lit(1L))))
      .withColumn("__b",
        (col("__kk") * col("__vv") - col("__uu")) *
          (col("__nn") - dec(lit(1L))))
      .select(col("__n").as("n_units"), lit(k.toLong).as("k"),
        round(when(col("__n") > 1L,
          d(col("__nn") * col("__uu") - col("__g") * col("__g")) /
            d(col("__nn") * col("__kk") * (col("__nn") - dec(lit(1L))))), 4)
          .as("msb"),
        round(d(col("__kk") * col("__vv") - col("__uu")) /
          d(col("__kk") * col("__nn") * (col("__kk") - dec(lit(1L)))), 4)
          .as("msw"),
        round(when(col("__a") + (col("__kk") - dec(lit(1L))) * col("__b") > 0,
          d(col("__a") - col("__b")) /
            d(col("__a") + (col("__kk") - dec(lit(1L))) * col("__b"))), 4)
          .as("icc"))
  }

  /** Ordinal association: Goodman–Kruskal gamma + Somers' D (F117) —
    * concordance-based dependence for two ORDERED factors, where
    * F22's V sees only nominal association and F62's τ-b symmetrizes
    * away the direction: gamma ignores all ties (the optimist), and
    * the two Somers' D's keep the DEPENDENT variable's ties in the
    * denominator — d_yx ≠ d_xy exactly when tie structure is
    * asymmetric, which is the directional-prediction question.
    *
    * Exactness and scale: pair counts NEVER materialize — the data
    * collapses to the (x, y) cell table and C/D/T come from the
    * ≤cells² strict-ordered cell cross with c_i·c_j weights in
    * decimal(38,0) (each unordered pair counted once via strict
    * inequalities). Exact integers; two pinned double ratios.
    *
    * Output: one row (n, c_pairs, d_pairs, t_x, t_y, gamma,
    * somers_d_yx, somers_d_xy), 4dp.
    */
  def ordinalAssoc(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
      .localCheckpoint() // feeds both sides of the cell cross
    val a = cells.select(col("__x").as("x1"), col("__y").as("y1"),
      col("__c").as("w1"))
    val b = cells.select(col("__x").as("x2"), col("__y").as("y2"),
      col("__c").as("w2"))
    val w = dec(col("w1")) * dec(col("w2"))
    val pairs = a.crossJoin(broadcast(b))
      .agg(
        sum(when(col("x2") > col("x1") && col("y2") > col("y1"), w)
          .otherwise(dec(lit(0L)))).as("__cc"),
        sum(when(col("x2") > col("x1") && col("y2") < col("y1"), w)
          .otherwise(dec(lit(0L)))).as("__dd"),
        sum(when(col("x2") === col("x1") && col("y2") > col("y1"), w)
          .otherwise(dec(lit(0L)))).as("__tx"),
        sum(when(col("y2") === col("y1") && col("x2") > col("x1"), w)
          .otherwise(dec(lit(0L)))).as("__ty"))
    val tot = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"))
    tot.crossJoin(broadcast(pairs))
      .select(col("n"),
        col("__cc").cast("long").as("c_pairs"),
        col("__dd").cast("long").as("d_pairs"),
        col("__tx").cast("long").as("t_x"),
        col("__ty").cast("long").as("t_y"),
        round(when(col("__cc") + col("__dd") > 0,
          d(col("__cc") - col("__dd")) / d(col("__cc") + col("__dd"))), 4)
          .as("gamma"),
        round(when(col("__cc") + col("__dd") + col("__ty") > 0,
          d(col("__cc") - col("__dd")) /
            d(col("__cc") + col("__dd") + col("__ty"))), 4).as("somers_d_yx"),
        round(when(col("__cc") + col("__dd") + col("__tx") > 0,
          d(col("__cc") - col("__dd")) /
            d(col("__cc") + col("__dd") + col("__tx"))), 4).as("somers_d_xy"))
  }

  /** Hosmer–Lemeshow calibration χ² (F119) — the goodness-of-fit
    * companion to F39's ECE: ECE reports HOW FAR predicted
    * probabilities sit from observed rates; HL asks whether the gaps
    * are LARGER THAN CHANCE, χ² = Σ_g (O_g−E_g)²/(E_g(1−E_g/n_g))
    * over probability deciles (χ²_{g−2} null). The significance gate
    * on a reliability diagram.
    *
    * Exactness: predictions arrive as exact basis-point integers
    * (round(p·10⁴), the q183 convention), so each bin term is the
    * EXACT integer ratio (O·10⁴ − Sq)²·n / (Sq·(n·10⁴ − Sq)) — one
    * double per bin, NANO-floored (1e9 — pico would overflow a long
    * on a pathologically miscalibrated big bin) before the ≤`bins`
    * sum (order-free, the q396 contract). Bins with E = 0 or E = n
    * (no information) drop, the standard practice.
    *
    * Output: one row (n, g, dof, hl_chi2), 4dp.
    */
  def hosmerLemeshow(
      df: DataFrame,
      pCol: String,
      yCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 3)
    val perBin = df
      .withColumn("__bin",
        least(floor(col(pCol) * bins).cast("int"), lit(bins - 1)))
      .groupBy("__bin")
      .agg(count(lit(1)).as("__ng"),
        sum(when(col(yCol), 1L).otherwise(0L)).as("__og"),
        sum(round(col(pCol) * 10000).cast("long")).as("__sq"))
      .filter(col("__sq") > 0 && col("__sq") < col("__ng") * 10000L)
    val diff = dec(col("__og")) * 10000L - dec(col("__sq"))
    perBin
      .withColumn("__term",
        floor(d(diff * diff * dec(col("__ng"))) /
          d(dec(col("__sq")) *
            (dec(col("__ng")) * 10000L - dec(col("__sq")))) *
          1e9 + 0.5).cast("long"))
      .groupBy()
      .agg(sum("__ng").as("n"), count(lit(1)).as("g"),
        sum("__term").as("__ts"))
      .select(col("n"), col("g"), (col("g") - 2L).as("dof"),
        round(d(col("__ts")) / 1e9, 4).as("hl_chi2"))
  }

  /** Theil's uncertainty coefficient U(X|Y) (F118) — the ASYMMETRIC
    * normalized dependence: what fraction of X's entropy does knowing
    * Y remove, U = (H(X) − H(X|Y))/H(X) ∈ [0,1]. F20's MI says how
    * much the two share; F22's V is symmetric — U answers the
    * directional feature question "how well does source predict
    * lang" vs its converse, which differ exactly when the marginals
    * are skewed.
    *
    * Exactness: every probability is a ratio of exact longs; each
    * entropy term quantizes to integer PICO-units via the
    * engine-identical floor(x·1e12 + 0.5) BEFORE summation (the q396
    * contract) — order-free sums, one final double chain.
    *
    * Scale shape: one (x, y) map-side-combined aggregate; marginals
    * ride windows over the CELL table (dim², not data).
    *
    * Output: one row (n, h_x, h_x_given_y, u), 4dp.
    */
  def theilU(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    // no checkpoint: the windows chain linearly over the one cell
    // aggregate (and PlanLint must SEE that aggregate below the
    // global window to classify it cell-grain)
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
    val wAll = Window.partitionBy()
    val wY = Window.partitionBy("__y")
    val wX = Window.partitionBy("__x")
    val scored = cells
      .withColumn("__n", sum("__c").over(wAll))
      .withColumn("__cy", sum("__c").over(wY))
      .withColumn("__cx", sum("__c").over(wX))
      // H(X|Y) contribution: −(c/N)·ln(c/c_y); H(X) uses one row per
      // x (the marginal row flag keeps the window frame single-pass)
      .withColumn("__hxyp",
        floor(d(col("__c")) / d(col("__n")) *
          log(d(col("__c")) / d(col("__cy"))) * 1e12 + 0.5).cast("long"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__x").orderBy("__y")))
      .withColumn("__hxp",
        when(col("__rn") === 1,
          floor(d(col("__cx")) / d(col("__n")) *
            log(d(col("__cx")) / d(col("__n"))) * 1e12 + 0.5).cast("long"))
          .otherwise(0L))
    scored
      .groupBy()
      .agg(max("__n").as("n"),
        (-sum("__hxp")).as("__hx"), (-sum("__hxyp")).as("__hxy"))
      .select(col("n"),
        round(d(col("__hx")) / 1e12, 4).as("h_x"),
        round(d(col("__hxy")) / 1e12, 4).as("h_x_given_y"),
        round(when(col("__hx") > 0,
          d(col("__hx") - col("__hxy")) / d(col("__hx"))), 4).as("u"))
  }
}
