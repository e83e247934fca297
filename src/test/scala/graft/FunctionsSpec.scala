package graft

import graft.functions._
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val M = GraftConf.MaxScore

  test("harmonicScore matches hand-computed top-K harmonic sum") {
    val df = Seq(Seq(0.8, 0.4, 0.2), Seq.empty[Double], Seq(0.5))
      .toDF("scores")
      .select(harmonicScore(col("scores")).as("h"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    val expected = (0.8 / 1 + 0.4 / 4 + 0.2 / 9) / M
    assert(math.abs(got(0).get - expected) < 1e-12)
    assert(got(1).isEmpty, "empty score set must yield NULL")
    assert(math.abs(got(2).get - 0.5 / M) < 1e-12)
  }

  test("harmonicScore keeps only top K") {
    val many = Seq((1 to 60).map(_ => 1.0))
    val got = many.toDF("scores")
      .select(harmonicScore(col("scores"), topK = 50).as("h"))
      .head().getDouble(0)
    val expected = (1 to 50).map(i => 1.0 / (i.toLong * i)).sum / M
    assert(math.abs(got - expected) < 1e-12)
  }

  test("harmonicScore drops NaNs and nulls") {
    val got = Seq(Seq(Double.NaN, 0.6))
      .toDF("scores")
      .select(harmonicScore(col("scores")).as("h"))
      .head().getDouble(0)
    assert(math.abs(got - 0.6 / M) < 1e-12)
  }

  test("logisticNovelty is peak/(1+exp(scale*(d-shift)))") {
    val got = Seq((0.3, 0)).toDF("p", "d")
      .select(logisticNovelty(col("p"), col("d")).as("n"))
      .head().getDouble(0)
    assert(math.abs(got - 0.3 / (1 + math.exp(2.0 * (0 - 2)))) < 1e-12)
  }

  test("native wordShingles/minhashSig match the HOF formulations on real docs") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(Seq((-1L, "a b"), (-2L, ""), (-3L, "x y z x y z x y z")).toDF("doc_id", "text"))
    val hof = docs.select(
      col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("set"))
      .withColumn("sig",
        when(size(col("set")) > 0, Dedup.minhashSignature(col("set"), 12)))
    val native = docs.select(
      col("doc_id"),
      NativeText.wordShingles(col("text"), 3).as("set"))
      .withColumn("sig", NativeText.minhashSig(col("set"), 12))
    val mismatches = hof.as("h").join(native.as("n"), "doc_id")
      .filter(col("h.set") =!= col("n.set") ||
        coalesce(col("h.sig"), array()) =!= coalesce(col("n.sig"), array()))
      .count()
    assert(mismatches == 0)
  }

  test("native harmonicScore is bit-identical to the HOF formulation") {
    val rnd = new scala.util.Random(7)
    val cases = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(80))(rnd.nextDouble())
    } ++ Seq(Seq.empty[Double], Seq(Double.NaN), Seq(Double.NaN, 0.25))
    val df = cases.toDF("scores").select(
      harmonicScore(col("scores")).as("nat"),
      harmonicScoreHof(col("scores")).as("hof"))
    // bitwise compare (NULL-safe): summation order must be identical
    val diff = df.filter(!(col("nat") <=> col("hof"))).count()
    assert(diff == 0)
  }

  test("native expressions compile under forced codegen (no silent fallback)") {
    val restoreFallback = spark.conf.get("spark.sql.codegen.fallback")
    val restoreMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val r = Seq(("a b c d", Seq(0.5, 0.8)), ("x", Seq.empty[Double]))
        .toDF("text", "scores")
        .select(
          NativeText.wordShingles(col("text"), 3).as("sh"),
          NativeText.minhashSig(NativeText.wordShingles(col("text"), 3), 4).as("sig"),
          harmonicScore(col("scores")).as("h"),
          rollingMinHash(col("text"), 4).as("rfp"))
        .collect()
      assert(r(0).getSeq[String](0) == Seq("a b c", "b c d"))
      assert(r(0).getSeq[String](1).length == 4)
      assert(math.abs(r(0).getDouble(2) - (0.8 / 1 + 0.5 / 4) / GraftConf.MaxScore) < 1e-12)
      assert(!r(0).isNullAt(3))
      assert(r(1).getSeq[String](0).isEmpty && r(1).isNullAt(1) && r(1).isNullAt(2))
      assert(r(1).isNullAt(3), "text shorter than the window must be NULL")
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", restoreFallback)
      restoreMode.foreach(spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("rollingMinHash is shift-robust and equals the direct polynomial min") {
    // Direct O(n·w) reference computation of the same fingerprint.
    def direct(s: String, w: Int): Option[Long] = {
      val b = s.getBytes("UTF-8").map(_ & 0xff)
      if (b.length < w) return None
      val M = 1000000007L
      Some((0 to b.length - w).map { j =>
        (0 until w).foldLeft(0L)((h, k) => (h * 257 + b(j + k)) % M)
      }.min)
    }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "abcdefghijklmnop", "short", "")
    val rows = texts.toDF("text")
      .select(rollingMinHash(col("text"), 16).as("rfp")).collect()
    texts.zip(rows).foreach { case (s, r) =>
      direct(s, 16) match {
        case Some(h) => assert(r.getLong(0) == h, s"mismatch for '$s'")
        case None => assert(r.isNullAt(0), s"expected NULL for '$s'")
      }
    }
    // shift robustness: a prefix-shifted copy shares all its windows
    // with the original's tail, so with the min window preserved the
    // fingerprints collide — unlike md5, which sees different content
    val base = "the quick brown fox jumps over the lazy dog"
    val shifted = "XYZ " + base
    val both = Seq(base, shifted).toDF("text")
      .select(rollingMinHash(col("text"), 16).as("rfp"))
      .collect().map(_.getLong(0))
    // the shifted text contains every window of the original, so its
    // min can only stay equal or drop (a property md5 lacks entirely)
    assert(both(1) <= both(0),
      s"shifted min ${both(1)} must be <= original min ${both(0)}")
  }

  test("bpeTokenCount splits letter/digit/punct runs like the oracle regex") {
    val df = Seq("hello world 123 foo-bar!", "", "a1b2").toDF("text")
    val out = df.select(graft.operators.TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .as[Int].collect().toSeq
    // "hello"," world"," 123"," foo","-","bar","!" → 7; "" → 0;
    // "a1b2" → "a","1","b","2" → 4
    assert(out == Seq(7, 0, 4), s"got $out")
  }

  test("native longDot equals the zip_with/aggregate formulation on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(quantize(col("embedding")).as("q"))
    val joined = emb.as("a").crossJoin(emb.as("b").limit(20))
      .select(
        quantizedDot(col("a.q"), col("b.q")).as("nat"),
        quantizedDotHof(col("a.q"), col("b.q")).as("hof"))
    assert(joined.filter(!(col("nat") <=> col("hof"))).count() == 0)
  }

  test("TopKCollect keeps the K largest descending, under partial aggregation") {
    val df = Seq((1, 0.1), (1, 0.9), (1, 0.5), (1, 0.7), (2, 0.3))
      .toDF("g", "s")
    val out = df.groupBy("g").agg(TopKCollect.topKCollect(col("s"), 2).as("top"))
    val m = out.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(m(1) == Seq(0.9, 0.7), "only the 2 largest, descending")
    assert(m(2) == Seq(0.3))
    // Bounded state must not cost partial (map-side) aggregation: the
    // physical plan carries a partial and a final aggregate node.
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_collect"),
      s"map-side combine missing from plan:\n$plan")
  }

  test("TopKCollect + TopKHarmonic equals collect_list + TopKHarmonic") {
    val ev = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_suppkey % 7 AS g", "l_discount * 10 AS s")
    def scored(agg: org.apache.spark.sql.Column) = ev.groupBy("g")
      .agg(agg.as("arr"))
      .select(col("g"), harmonicScore(col("arr")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bounded = scored(TopKCollect.topKCollect(col("s")))
    val full = scored(collect_list(col("s")))
    assert(bounded.keySet == full.keySet)
    bounded.foreach { case (g, h) =>
      assert(math.abs(h - full(g)) < 1e-12, s"group $g: $h vs ${full(g)}") }
  }

  test("topk_collect and topk_harmonic reject k < 1 when built, from columns and SQL") {
    val df = Seq(0.5, 0.7).toDF("s")
    for (k <- Seq(0, -1)) {
      val builds = Seq[(String, () => Any)](
        "topKCollect" -> (() => TopKCollect.topKCollect(col("s"), k)),
        "topKHarmonic" -> (() => TopKHarmonic.topKHarmonic(array(col("s")), k)),
        "topk_collect" -> (() => df.selectExpr(s"topk_collect(s, $k)")),
        "topk_harmonic" -> (() => df.selectExpr(s"topk_harmonic(array(s), $k)")))
      builds.foreach { case (name, build) =>
        val e = intercept[Exception](build())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => String.valueOf(c.getMessage).contains(s"topK must be >= 1, got $k")),
          s"$name(k = $k) failed with $e")
      }
    }
  }

  test("yearFromDateString parses ISO date strings, NULLs the malformed") {
    val df = Seq(
      Some("1995-03-07"), Some("2021-12-31 08:00:00"), Some("1980"),
      Some("not-a-date"), Some(""), None)
      .toDF("d")
      .select(yearFromDateString(col("d")).as("y"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
    assert(got(0).contains(1995))
    assert(got(1).contains(2021))
    assert(got(2).contains(1980), "bare year string")
    assert(got(3).isEmpty, "non-numeric first segment")
    assert(got(4).isEmpty, "empty string")
    assert(got(5).isEmpty, "null in, null out")
  }

  test("quantized dot/cosine are exact integer math") {
    val (qa, qb) = (quantize(col("a")), quantize(col("b")))
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.5f, 0.5f))).toDF("a", "b")
      .select(
        quantizedDot(qa, qb).as("dot"),
        quantizedCosine(qa, qb, quantizedNorm(qa), quantizedNorm(qb)).as("cos"))
    val r = df.head()
    assert(r.getLong(0) == 1000L * 500L)
    assert(math.abs(r.getDouble(1) - 500000.0 / (1000.0 * math.sqrt(500000.0))) < 1e-12)
  }

  test("hllDistinct: within 5% at 10k distinct; exact in the linear-counting range") {
    val big = spark.range(10000).select(HllSketch.hllDistinct(col("id")).as("e")).head().getDouble(0)
    assert(math.abs(big - 10000) < 500, s"estimate $big for n=10000")
    // tiny cardinality → linear counting is near-exact
    val small = spark.range(100).select(HllSketch.hllDistinct(col("id")).as("e")).head().getDouble(0)
    assert(math.abs(small - 100) < 3, s"estimate $small for n=100")
  }

  test("hllDistinct is partitioning- and duplication-invariant (merge = max)") {
    val base = spark.range(5000).select((col("id") % 1700).as("v"))
    val one = base.repartition(1).select(HllSketch.hllDistinct(col("v"))).head().getDouble(0)
    val many = base.repartition(13).select(HllSketch.hllDistinct(col("v"))).head().getDouble(0)
    // duplicates change nothing: registers are max-rank
    val duped = base.union(base).repartition(7)
      .select(HllSketch.hllDistinct(col("v"))).head().getDouble(0)
    assert(one == many && one == duped,
      s"register merge must be order/partition invariant: $one $many $duped")
  }

  test("hll_distinct SQL surface matches the Column API") {
    GraftExtensions.register(spark)
    spark.range(3000).select((col("id") % 900).as("v")).createOrReplaceTempView("hll_in")
    val sql = spark.sql("SELECT hll_distinct(v) AS e FROM hll_in").head().getDouble(0)
    val api = spark.table("hll_in").select(HllSketch.hllDistinct(col("v"))).head().getDouble(0)
    assert(sql == api)
  }

  test("cmsSketch: estimates never under-count and are partition-invariant") {
    // Zipf-ish: value v appears v times, v in 1..60
    val vals = (1 to 60).flatMap(v => Seq.fill(v)(v.toLong))
    val df = vals.toDF("v")
    def estimates(d: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val sk = d.agg(CmsSketch.cmsSketch(col("v")).as("sk"))
      d.distinct().join(sk)
        .select(col("v"), CmsSketch.cmsEstimate(col("sk"), col("v")).as("e"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val est = estimates(df)
    for (v <- 1 to 60)
      assert(est(v.toLong) >= v, s"CMS under-counted $v: ${est(v.toLong)}")
    // w=1024 >> 60 keys: collisions are rare enough that most are exact
    assert((1 to 60).count(v => est(v.toLong) == v) >= 55, est.toString)
    assert(estimates(df.repartition(17)) == est, "merge must be elementwise sum")
  }

  test("vectorSum: rollup path equals direct build; nulls skipped; all-null is null") {
    val rows = Seq(
      ("a", "x", Seq(1L, 2L, 3L)), ("a", "x", Seq(10L, 0L, 0L)),
      ("a", "y", Seq(0L, 5L, 0L)), ("b", "x", Seq(7L, 7L, 7L)))
      .toDF("g", "sub", "vec")
    // fine grain (g, sub) -> coarse g must equal aggregating g directly
    val direct = rows.groupBy("g").agg(VectorSum.vectorSum(col("vec")).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val rolled = rows.groupBy("g", "sub")
      .agg(VectorSum.vectorSum(col("vec")).as("v"))
      .groupBy("g").agg(VectorSum.vectorSum(col("v")).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(direct == rolled)
    assert(direct("a") == Seq(11L, 7L, 3L) && direct("b") == Seq(7L, 7L, 7L))
    val withNull = rows.select(col("g"),
      when(col("sub") === "y", lit(null)).otherwise(col("vec")).as("vec"))
    val skipped = withNull.groupBy("g").agg(VectorSum.vectorSum(col("vec")).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(skipped("a") == Seq(11L, 2L, 3L), "null rows must be skipped")
    val allNull = rows.select(lit("z").as("g"), lit(null).cast("array<long>").as("vec"))
      .groupBy("g").agg(VectorSum.vectorSum(col("vec")).as("v")).head()
    assert(allNull.isNullAt(1), "all-null group must yield NULL")
    // partitioning invariance (merge = elementwise sum)
    val re = rows.repartition(13).groupBy("g")
      .agg(VectorSum.vectorSum(col("vec")).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(re == direct)
  }

  test("vectorSum rejects mismatched lengths instead of zip-truncating") {
    val bad = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("vec")
      .coalesce(1)
      .agg(VectorSum.vectorSum(col("vec")))
    val e = intercept[Exception](bad.head())
    assert(e.getMessage != null)
  }

  test("bitmapDistinct: exact, duplication/partitioning-invariant; state rollup = direct") {
    val rows = spark.range(0, 5000)
      .select((col("id") % 700).as("v"), (col("id") % 3).as("g"))
    val exact = rows.agg(BitmapSketch.bitmapDistinct(col("v")))
      .head().getLong(0)
    assert(exact == 700L)
    val re = rows.repartition(11).agg(BitmapSketch.bitmapDistinct(col("v")))
      .head().getLong(0)
    assert(re == 700L, "merge must be bitwise OR")
    // fine grain (g) states ORed back together == global distinct
    val rolled = rows.groupBy("g")
      .agg(BitmapSketch.bitmapState(col("v")).as("bm"))
      .agg(BitmapSketch.bitmapMergeCount(col("bm")))
      .head().getLong(0)
    assert(rolled == 700L, "bitmap rollup must equal the direct distinct")
    // per-group counts match exact count(DISTINCT)
    val per = rows.groupBy("g")
      .agg(BitmapSketch.bitmapDistinct(col("v")).as("u"),
        countDistinct(col("v")).as("cd"))
      .collect()
    per.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
  }

  test("bitmapDistinct: sparse long domain — scattered, huge, negative ids") {
    // the sf1 gate's catch: the old fixed-domain bitset required
    // v < 2^20; realistic remapped ids (10^7-range blocks, plus
    // negatives and Long extremes here) must count exactly
    val vals = Seq(0L, 1L, -1L, -65536L, 65536L, 10_000_001L, 90_000_001L,
      Long.MaxValue, Long.MinValue, 10_000_001L, 0L)
    val rows = vals.toDF("v")
    val exact = rows.repartition(3).agg(BitmapSketch.bitmapDistinct(col("v")))
      .head().getLong(0)
    assert(exact == vals.distinct.size.toLong)
    // dense-container path too (> 512 set bits in one 65,536 block
    // exercises the dense serialization branch)
    val dense = spark.range(0, 5000)
      .agg(BitmapSketch.bitmapState(col("id")).as("bm"))
      .agg(BitmapSketch.bitmapMergeCount(col("bm")))
      .head().getLong(0)
    assert(dense == 5000L)
  }

  test("bloomAgg/mightContain: no false negatives, low FP rate, OR-merge invariant") {
    val members = spark.range(0, 2000).select(col("id").as("v"))
    def probeSet(d: org.apache.spark.sql.DataFrame): Set[Long] = {
      val bloom = d.agg(BloomSketch.bloomAgg(col("v")).as("b"))
      spark.range(0, 20000).select(col("id").as("v")).join(bloom)
        .filter(BloomSketch.mightContain(col("b"), col("v")))
        .select("v").collect().map(_.getLong(0)).toSet
    }
    val hits = probeSet(members)
    assert((0L until 2000L).forall(hits), "a bloom must never miss a member")
    val fps = hits.count(_ >= 2000L)
    // k=5, m=2^17, n=2000 -> theoretical fp ~ 2e-6; allow generous slack
    assert(fps <= 5, s"$fps false positives out of 18000 non-members")
    assert(probeSet(members.repartition(11)) == hits, "merge must be bitwise OR")
  }

  test("pearsonP matches numerically-integrated t tails for even and odd df") {
    // Library-free reference: two-sided p = 1 − 2∫₀ᵗ f(x|ν)dx by
    // Simpson, with the Γ((ν+1)/2)/Γ(ν/2) ratio from its recurrence
    // R(ν) = (ν−1)/(2·R(ν−1)), R(1) = 1/√π. Pins the A&S closed-form
    // recurrences of PearsonTwoSidedP across parities, magnitudes, and
    // a four-digit df.
    def numericP(r: Double, n: Long): Double = {
      val v = (n - 2).toInt
      val rho = math.abs(r)
      val t = rho * math.sqrt(v / (1.0 - rho * rho))
      var ratio = 1.0 / math.sqrt(math.Pi)
      for (i <- 2 to v) ratio = (i - 1) / (2.0 * ratio)
      def pdf(x: Double): Double =
        ratio / math.sqrt(v * math.Pi) * math.pow(1.0 + x * x / v, -(v + 1) / 2.0)
      val steps = 20000
      val h = t / steps
      var s = pdf(0.0) + pdf(t)
      for (i <- 1 until steps)
        s += pdf(i * h) * (if (i % 2 == 1) 4.0 else 2.0)
      1.0 - 2.0 * s * h / 3.0
    }
    val cases = Seq((0.5, 10L), (0.5, 11L), (0.3, 5L), (0.9, 4L),
      (0.17, 103L), (-0.42, 38L), (0.05, 1000L), (0.99, 3L), (0.01, 3L))
    for ((r, n) <- cases) {
      val got = PearsonTwoSidedP.evalStatic(r, n).doubleValue()
      val exp = numericP(r, n)
      assert(math.abs(got - exp) < 1e-9, s"p($r, $n): got $got, numeric $exp")
    }
    // scipy.stats.pearsonr(r=0.5, n=10) reports p = 0.14111328125
    assert(PearsonTwoSidedP.evalStatic(0.5, 10L).doubleValue() == 0.14111328125)
    // edges: |r| ≥ 1 → 0, r = 0 → 1, n < 3 → NULL, and the column
    // accessor is codegen-friendly end to end
    assert(PearsonTwoSidedP.evalStatic(1.0, 5L).doubleValue() == 0.0)
    assert(PearsonTwoSidedP.evalStatic(0.0, 5L).doubleValue() == 1.0)
    assert(PearsonTwoSidedP.evalStatic(0.4, 2L) == null)
    val viaCol = Seq((0.5, 10L), (-0.5, 10L))
      .toDF("r", "n")
      .select(pearsonP(col("r"), col("n")).as("p"))
      .collect().map(_.getDouble(0))
    assert(viaCol(0) == 0.14111328125 && viaCol(1) == 0.14111328125,
      "column path must match evalStatic and be sign-symmetric")
  }

  test("jaroWinkler matches DuckDB's jaro_winkler_similarity doubles exactly") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroWinkler.evalStatic(UTF8String.fromString(a), UTF8String.fromString(b))
    // golden doubles probed from DuckDB (the oracle engine) — every
    // case must match at FULL double precision, not 4dp
    val golden = Seq(
      ("martha", "marhta") -> 0.9611111111111111, // 2 half-transpositions
      ("dixon", "dicksonx") -> 0.8133333333333332, // prefix boost l=2
      ("jellyfish", "smellyfish") -> 0.8962962962962964, // no common prefix
      ("dwayne", "duane") -> 0.8400000000000001,
      ("prefix", "pretext") -> 0.8222222222222222, // boost over 0.7 jaro
      ("abcdefgh", "abcdxxxx") -> 0.6666666666666666, // boost WITHHELD ≤ 0.7
      ("dadce", "bbeaacabde") -> 0.5222222222222221, // FLOORED trans halves
      ("abc", "abc") -> 1.0,
      ("", "abc") -> 0.0, ("", "") -> 0.0, // empty → 0, even both-empty
      ("a", "b") -> 0.0, ("ab", "ba") -> 0.0) // window 0 → no matches
    for (((a, b), want) <- golden)
      assert(jw(a, b) == want, s"jw($a, $b) = ${jw(a, b)}, want $want")
    // symmetric by construction
    assert(jw("dixon", "dicksonx") == jw("dicksonx", "dixon"))
    // column path (and the SQL registration) agree with evalStatic
    GraftExtensions.register(spark)
    val viaCol = Seq(("martha", "marhta")).toDF("a", "b")
      .select(jaroWinkler(col("a"), col("b")).as("c"),
        expr("jaro_winkler(a, b)").as("s"))
      .collect().head
    assert(viaCol.getDouble(0) == 0.9611111111111111 &&
      viaCol.getDouble(1) == 0.9611111111111111)
  }

  test("canonicalUrl: every rule, plus the null and SQL paths") {
    import org.apache.spark.unsafe.types.UTF8String
    def cu(s: String): String = {
      val r = CanonicalUrl.evalStatic(UTF8String.fromString(s))
      if (r == null) null else r.toString
    }
    // lowercase scheme/host, default port dropped, fragment cut
    assert(cu("HTTP://Example.COM:80/A/b#frag") == "http://example.com/A/b")
    assert(cu("HTTPS://X.org:443/") == "https://x.org")
    // non-default port kept; http's default on https kept too
    assert(cu("https://x.org:80/a") == "https://x.org:80/a")
    assert(cu("http://x.org:8080/a/") == "http://x.org:8080/a")
    // tracking params dropped (utm_ prefix + exact keys), order kept,
    // empty segments dropped, emptied query drops its '?'
    assert(cu("http://a.com/p?utm_source=x&id=1&&gclid=z&b=2") ==
      "http://a.com/p?id=1&b=2")
    assert(cu("http://a.com/p?utm_campaign=x&fbclid=1") == "http://a.com/p")
    // exact-key match only: gclidx and ref_src are NOT tracking keys
    assert(cu("http://a.com/?gclidx=1&ref=x&ref_src=y") ==
      "http://a.com?gclidx=1&ref_src=y")
    // path-less and query-only forms; ALL trailing slashes stripped
    // (idempotence: canonical(canonical(x)) == canonical(x))
    assert(cu("http://a.com") == "http://a.com")
    assert(cu("http://a.com//") == "http://a.com")
    assert(cu("http://a.com/a//") == "http://a.com/a")
    assert(cu("http://a.com?ref=x") == "http://a.com")
    // not a URL → null (no scheme, empty scheme, scheme with /?#)
    assert(cu("no scheme here") == null)
    assert(cu("://x.com") == null)
    assert(cu("a/b://x.com") == null)
    // column + SQL surfaces agree; null propagates
    GraftExtensions.register(spark)
    val row = Seq(("HTTP://A.com:80/x/?utm_a=1&k=2", Option.empty[String]))
      .toDF("a", "b")
      .select(graft.functions.canonicalUrl(col("a")).as("c"),
        expr("canonical_url(a)").as("s"),
        graft.functions.canonicalUrl(col("b")).as("nb"))
      .collect().head
    assert(row.getString(0) == "http://a.com/x?k=2")
    assert(row.getString(1) == row.getString(0))
    assert(row.isNullAt(2))
  }

  test("nfcNormalize composes decomposed sequences; fast path is zero-copy") {
    import org.apache.spark.unsafe.types.UTF8String
    def nfc(s: String): String =
      NfcNormalize.evalStatic(UTF8String.fromString(s)).toString
    // decomposed e + COMBINING ACUTE (U+0301) -> precomposed U+00E9
    assert(nfc("cafe\u0301") == "caf\u00e9")
    assert(nfc("nai\u0308ve") == "na\u00efve")
    // already-NFC input returns the SAME UTF8String instance (the
    // quick-check fast path — no copy on the common case)
    val in = UTF8String.fromString("plain ascii caf\u00e9")
    assert(NfcNormalize.evalStatic(in) eq in)
    // column path agrees, nulls propagate
    val viaCol = Seq(("cafe\u0301", Option.empty[String])).toDF("a", "b")
      .select(nfcNormalize(col("a")).as("n"), nfcNormalize(col("b")).as("nb"))
      .collect().head
    assert(viaCol.getString(0) == "caf\u00e9" && viaCol.isNullAt(1))
    // md5 of the normalized form is what dedup sees: the two spellings
    // of the same text now collide (the G1 motivation)
    val m = Seq(("cafe\u0301", "caf\u00e9")).toDF("a", "b")
      .select(md5(nfcNormalize(col("a"))).as("ha"),
        md5(nfcNormalize(col("b"))).as("hb")).collect().head
    assert(m.getString(0) == m.getString(1))
  }

  test("Dedup.blockedJaroWinkler keeps only co-blocked pairs over threshold") {
    val names = Seq(
      ("martha lane", "m"), ("marhta lane", "m"),
      ("dixon st", "d"), ("totally different", "m"))
      .toDF("name", "block")
    val out = graft.operators.Dedup
      .blockedJaroWinkler(names, "name", "block", minSim = 0.9)
      .collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "marhta lane" &&
      out.head.getString(1) == "martha lane")
    assert(out.head.getDouble(2) > 0.9)
  }
}
