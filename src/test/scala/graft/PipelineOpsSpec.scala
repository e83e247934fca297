package graft

import graft.operators.{Dedup, Sampling, TextAnalysis}
import graft.streaming.{EventStream, StreamQueries}
import org.apache.spark.sql.functions._

/** Round-4 pipeline operators: Gopher quality rules, repetition
  * signals, deterministic sampling/splits, cross-corpus contamination,
  * and the streaming-query materialization path.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- gopher

  test("gopherRules: a clean document passes every rule") {
    val text = (Seq("the", "report", "and", "its", "appendix") ++
      (1 to 30).map(i => s"word$i")).mkString(" ")
    val r = TextAnalysis.gopherRules(Seq((1L, text)).toDF("doc_id", "text"))
      .select("n_words", "ok_words", "ok_mean_len", "ok_alpha", "ok_stop",
        "ok_symbol", "gopher_pass").head()
    assert(r.getLong(0) == 35)
    assert((1 to 5).forall(r.getBoolean), r.toString)
  }

  test("gopherRules: each rule fails on its own violation") {
    def flags(text: String) = {
      val r = TextAnalysis.gopherRules(Seq((1L, text)).toDF("doc_id", "text"))
        .select("ok_words", "ok_mean_len", "ok_alpha", "ok_stop", "ok_symbol",
          "gopher_pass").head()
      (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5))
    }
    val pad = (1 to 40).map(i => s"word$i")
    // too short
    assert(flags("the cat and dog")._1 == false)
    // mean word length < 3 ("a b c ..." words of length 1)
    val short = ("the" +: "and" +: (1 to 40).map(_ => "a")).mkString(" ")
    assert(flags(short)._2 == false)
    // >20% non-alpha words
    val numeric = (Seq("the", "and") ++ (1 to 10).map(i => s"word$i") ++
      (1 to 40).map(_.toString)).mkString(" ")
    assert(flags(numeric)._3 == false)
    // fewer than 2 stopwords
    assert(flags(pad.mkString(" "))._4 == false)
    // >10% symbol characters
    val symbolic = (Seq("the", "and") ++ pad.map(_ + "###")).mkString(" ")
    assert(flags(symbolic)._5 == false)
    assert(flags(("the" +: "and" +: pad).mkString(" "))._6 == true)
  }

  // ------------------------------------------------------ repetition

  test("repetition: crafted counts (a b a b a b)") {
    // 2-grams: [a b, b a, a b, b a, a b] → total 5, top "a b"×3, all dup
    val r = TextAnalysis.repetition(Seq((1L, "a b a b a b")).toDF("doc_id", "text"))
      .select("n_grams", "top_count", "dup_count", "top_frac", "dup_frac").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 3L, 5L)))
    assert(r.getDouble(3) == 0.6 && r.getDouble(4) == 1.0)
  }

  test("repetition: all-distinct grams and sub-n-word docs") {
    val out = TextAnalysis.repetition(
      Seq((1L, "one two three four"), (2L, "solo")).toDF("doc_id", "text"))
      .select("doc_id", "n_grams", "top_count", "dup_count").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((3L, 1L, 0L)))
    assert(out(2L) == ((0L, 0L, 0L)))
  }

  test("repetition: run-length fold equals the explode/groupBy formulation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val folded = TextAnalysis.repetition(docs)
      .select("doc_id", "n_grams", "top_count", "dup_count")
    val naive = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_grams"), max("cnt").as("top_count"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_count"))
    assert(folded.exceptAll(naive).isEmpty && naive.exceptAll(folded).isEmpty)
    // and the fold is a pure projection: no shuffle anywhere in its plan
    assert(!folded.queryExecution.executedPlan.toString.contains("Exchange"),
      "repetition must not shuffle")
  }

  // -------------------------------------------------------- sampling

  test("hashSplit: deterministic, growth-stable, threshold-consistent") {
    val a = Sampling.hashSplit(spark.range(100).toDF("doc_id"))
      .select("doc_id", "bucket", "split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val b = Sampling.hashSplit(spark.range(1000).toDF("doc_id"))
      .select("doc_id", "bucket", "split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // a document's assignment never changes when the corpus grows
    assert(a.forall { case (id, v) => b(id) == v })
    assert(b.values.forall { case (bk, sp) =>
      bk >= 0 && bk < 100 &&
        sp == (if (bk < 80) "train" else if (bk < 90) "val" else "test")
    })
    val bySplit = b.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("stratifiedHashSample: kept rows obey their stratum's rate; plan broadcasts") {
    val docs = spark.range(500).toDF("doc_id")
      .withColumn("source", concat(lit("s"), col("doc_id") % 4))
    val rates = Seq(("s0", 0), ("s1", 25), ("s2", 50), ("s3", 100)).toDF("source", "pct")
    val kept = Sampling.stratifiedHashSample(docs, rates, "source")
    val rows = kept.select("source", "bucket", "pct").collect()
    assert(rows.forall(r => r.getLong(1) < r.getInt(2)))
    val bySrc = rows.groupBy(_.getString(0)).view.mapValues(_.size).toMap
    assert(!bySrc.contains("s0"))
    assert(bySrc("s3") == 125, "pct=100 keeps the whole stratum")
    assert(bySrc("s1") < bySrc("s2"))
    assert(kept.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "rates dim must broadcast")
  }

  // --------------------------------------------------- contamination

  test("crossContamination: flags only docs sharing >= minShared shingles; bench broadcasts") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 3 bench 3-grams inside "beta gamma delta epsilon zeta"
      (1L, "intro beta gamma delta epsilon zeta outro"),
      (2L, "alpha beta gamma unrelated tail here"),     // only 1 shared
      (3L, "completely different words entirely now")). // none
      toDF("doc_id", "text")
    val out = Dedup.crossContamination(corpus, bench, minShared = 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 3L, 1L)))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "benchmark shingle index must broadcast")
  }

  // -------------------------------------------- streaming registered

  test("materialized streaming tumbling agg = batch agg cut at the final watermark") {
    val streamed = StreamQueries.materialize(
      EventStream.tumblingCounts(StreamQueries.streamEvents(spark, sfDir),
        "1 hour", "2 hours"))
      .select("window_start", "event_type", "n")
    val events = graft.sources.Tables(spark, sfDir).events
    val cutoff = events.agg(max("ts")).head().getTimestamp(0).getTime - 2 * 3600 * 1000
    val batch = graft.operators.EventWindows.tumbling(
      events, "1 hour", Seq("event_type"), Seq(count(lit(1)).as("n")))
      .filter((unix_millis(col("window_start")) + 3600 * 1000) <= cutoff)
      .select("window_start", "event_type", "n")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("latestByKey reduces an update history to the final state per key") {
    val updates = Seq(
      (1L, "A", 1L, 0.2), (1L, "A", 3L, 0.9), (1L, "A", 2L, 0.5),
      (2L, "B", 1L, 0.7)).toDF("k1", "k2", "n", "score")
    val out = StreamQueries.latestByKey(updates, Seq("k1", "k2"), "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSet == Set((1L, "A", 3L, 0.9), (2L, "B", 1L, 0.7)))
  }

  // ------------------------------------------------------ unigram LM

  test("unigramLm: crafted corpus, hand-computed mean surprisal") {
    // cf: a=2, b=2, c=1; T=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLm(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc 1: -(3·ln(2/5))/3 = -ln 0.4 ≈ 0.9163
    assert(out(1L) == ((3L, 0.9163)))
    // doc 2: -(ln(2/5) + ln(1/5))/2 ≈ 1.2629
    assert(out(2L) == ((2L, 1.2629)))
  }

  test("bigramLm: crafted corpus, hand-computed conditional surprisal") {
    // bigrams: doc1 = (a,a),(a,b); doc2 = (a,b)
    // pc: (a,a)=1, (a,b)=2; ctx(a)=3; V = |{a,b,c}| = 3 (c appears in doc3)
    // doc3 has one word -> no bigrams -> excluded
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLm(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // P(a|a) = (1+1)/(3+3) = 1/3; P(b|a) = (2+1)/(3+3) = 1/2
    val d1 = -(math.log(1.0 / 3) + math.log(0.5)) / 2
    val d2 = -math.log(0.5)
    assert(out(1L) == ((2L, math.rint(d1 * 1e4) / 1e4)))
    assert(out(2L) == ((1L, math.rint(d2 * 1e4) / 1e4)))
    assert(!out.contains(3L))
  }

  test("lexicalCosinePairs: hand-computed shingle cosine; boilerplate capped out of the dot") {
    // docs 1/2 identical (3 shingles each, all tf=1) -> cos 1.0;
    // doc 3 disjoint
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lexicalCosinePairs(docs, minCos = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 2L, 3L, 1.0)))
    // maxDf = 1 would make every shared shingle "boilerplate": no pair
    // can clear df > 1 AND df <= 1, so the cap guard refuses it
    assert(intercept[IllegalArgumentException](
      TextAnalysis.lexicalCosinePairs(docs, minCos = 0.1, maxDf = 1))
      .getMessage.contains("cap must be >= 2"))
    // at maxDf = 2 the shingle "a b c" held by 3 docs is capped out of
    // the dot and its 3 postings reported; docs 4/5 still pair
    val boiler = Seq((1L, "a b c p q"), (2L, "a b c r s"), (3L, "a b c t u"),
      (4L, "k l m n o"), (5L, "k l m n o")).toDF("doc_id", "text")
    val report = observedMetric("graft_lexcos_df_cap") {
      val kept = TextAnalysis.lexicalCosinePairs(boiler, minCos = 0.1, maxDf = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(kept == Seq((4L, 5L)), s"got $kept")
    }(_.getAs[Long]("dropped_postings") == 3L)
    assert(report.isRight, s"3 dropped postings must be reported, saw $report")
    assert(report.toOption.get.getAs[Long]("max_word_df") == 3L)
    // repeated shingles weigh: "a b a b a" has shingles (a b a),(b a b),(a b a)
    val rep = Seq((1L, "a b a b a"), (2L, "a b a b a")).toDF("doc_id", "text")
    val r = TextAnalysis.lexicalCosinePairs(rep, minCos = 0.5).head()
    // tf = {aba:2, bab:1} both docs -> dot 5, norms sqrt(5) -> cos 1.0
    assert(r.getLong(r.fieldIndex("dot")) == 5L)
    assert(r.getDouble(r.fieldIndex("cos")) == 1.0)
  }

  test("tfidfTopK: crafted corpus, hand-computed scores") {
    // N=2; df: a=1, b=2, c=1 → idf(a)=idf(c)=ln 2, idf(b)=0
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(out == Set(
      (1L, "a", 1, 1.3863), (1L, "b", 2, 0.0),
      (2L, "c", 1, 0.6931), (2L, "b", 2, 0.0)))
  }

  test("enrichedTumbling stream = batch weighted agg cut at final watermark") {
    val events = graft.sources.Tables(spark, sfDir).events
    val dim = events.select(col("event_type")).distinct()
      .withColumn("weight",
        (Sampling.hashBucket(col("event_type"), "w") % 9 + 1).cast("double")
          / lit(10).cast("double"))
    val streamed = StreamQueries.materialize(
      EventStream.enrichedTumbling(
        StreamQueries.streamEvents(spark, sfDir), dim, "1 hour", "2 hours"))
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("wsum"), 4).as("wsum"))
    val cutoff = events.agg(max("ts")).head().getTimestamp(0).getTime - 2 * 3600 * 1000
    val batch = events.join(dim, Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value") * col("weight")).as("wsum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), round(col("wsum"), 4).as("wsum"))
      .filter((unix_millis(col("window_start")) + 3600 * 1000) <= cutoff)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("weightedPrioritySample: partition-invariant, weight-monotone inclusion") {
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "hi" else "lo"))
      .toDF("doc_id", "source")
    val weights = Seq(("hi", 0.9), ("lo", 0.1)).toDF("source", "weight")
    val a = Sampling.weightedPrioritySample(docs, weights, "source", k = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedPrioritySample(docs.repartition(7), weights, "source", k = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    val hi = a.count(_ % 2 == 0)
    assert(hi > 70, s"the weight-0.9 source must dominate the sample: $hi/100")
  }

  // --------------------------------------------------- snapshot diff

  test("Snapshot.diff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq(
      (1L, "one", "s1"), (2L, "two", "s2"), (3L, "three", "s3"),
      (4L, "four", "s4")).toDF("doc_id", "text", "source")
    val newSnap = Seq(
      (2L, "two", "s2"), (3L, "three EDITED", "s3x"), (4L, "four", "s4"),
      (5L, "five", "s5")).toDF("doc_id", "text", "source")
    val out = operators.Snapshot.diff(oldSnap, newSnap, passthrough = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, "removed", "s1"), (2L, "unchanged", "s2"),
      (3L, "changed", "s3x"), (4L, "unchanged", "s4"),
      (5L, "added", "s5")))
  }

  // ----------------------------------------------- nearest centroid

  test("centroidClassify: separable labels recover, keep column rides") {
    val train = Seq(
      (1L, Array(1.0f, 0.1f), 0), (2L, Array(0.9f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val test = Seq(
      (10L, Array(0.8f, 0.2f), 0), (11L, Array(0.2f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = operators.SimilaritySearch
      .centroidClassify(train, test, keep = Seq("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out == Set((10L, 0, 0), (11L, 1, 1)))
  }

  // -------------------------------------------- incremental state

  test("Incremental: state(delta) merged with state(hist) == state(full)") {
    val full = (1 to 500).map(i => (s"k${i % 7}", (i * 37 % 1000) / 10.0))
      .toDF("k", "v")
    val direct = operators.Incremental.aggState(full, Seq("k"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // three-way split, merged in a different order than the data
    val parts = Seq(
      full.filter(col("v") < 30), full.filter(col("v") >= 70),
      full.filter(col("v") >= 30 && col("v") < 70))
      .map(p => operators.Incremental.aggState(p, Seq("k"), "v"))
    val merged = operators.Incremental.merge(Seq("k"), parts: _*)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(merged.keySet == direct.keySet)
    for ((k, (n, s, mn, mx)) <- direct) {
      val (n2, s2, mn2, mx2) = merged(k)
      assert(n2 == n && mn2 == mn && mx2 == mx)
      assert(math.abs(s2 - s) < 1e-9, s"$k: $s2 vs $s")
    }
  }

  // -------------------------------------------------- epoch mix

  test("epochMix: integer epochs copy exactly; fractional top-up is deterministic") {
    val docs = (1L to 100L).map(i => (i, if (i <= 50) "a" else "b"))
      .toDF("doc_id", "source")
    val targets = Seq(("a", 2.0), ("b", 1.5)).toDF("source", "epochs")
    val out = Sampling.epochMix(docs, targets)
    val perDoc = out.groupBy("doc_id", "source")
      .agg(count(lit(1)).cast("long").as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(perDoc.filter(_._1._2 == "a").values.forall(_ == 2L),
      "epochs=2.0 means exactly two copies, no randomness")
    assert(perDoc.filter(_._1._2 == "b").values.forall(n => n == 1L || n == 2L))
    val bCopies = perDoc.filter(_._1._2 == "b").values.sum
    assert(bCopies > 50 && bCopies < 100, s"b emitted $bCopies of expected ~75")
    // partition-invariant: identical multiset after a repartition
    val re = Sampling.epochMix(docs.repartition(7), targets)
      .groupBy("doc_id", "source").agg(count(lit(1)).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(re == perDoc)
  }

  // -------------------------------------------------- semdedup

  test("semdedup composition: duplicate embeddings collapse to the min-id keeper") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),   // dup pair
      (3L, Array(0.0f, 1.0f)))                            // singleton
      .toDF("vec_id", "embedding")
    val pairs = operators.SimilaritySearch
      .cosineNearDupPairs(emb, minCos = 0.9, planes = 4, dims = 2)
      .select("idA", "idB")
    val comp = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L), "dups share the min-id component")
  }

  // -------------------------------------------------- retention

  test("retention: cohort by first period, rates per offset") {
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(7)), (1L, ts(14)),   // cohort 0, active 0/1/2
      (2L, ts(1)), (2L, ts(8)),                 // cohort 0, active 0/1
      (3L, ts(2)),                              // cohort 0, active 0
      (4L, ts(7)), (4L, ts(21)))                // cohort 1, active 1/3->offset 0,2
      .toDF("user_id", "ts")
    val out = operators.EventWindows.retention(ev, periodDays = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out((0L, 0L)) == ((3L, 3L, 1.0)))
    assert(out((0L, 1L)) == ((2L, 3L, 0.6667)))
    assert(out((0L, 2L)) == ((1L, 3L, 0.3333)))
    assert(out((1L, 0L)) == ((1L, 1L, 1.0)))
    assert(out((1L, 2L)) == ((1L, 1L, 1.0)))
    assert(!out.contains((1L, 1L)), "no row for inactive offsets")
  }

  // -------------------------------------------------- bpe pairs

  test("bpePairCounts: vocabulary-weighted adjacent pairs, hand-checked") {
    val docs = Seq(
      (1L, "abab cd"), (2L, "abab abab"), (3L, "x")).toDF("doc_id", "text")
    // vocab: abab (wf 3), cd (wf 1); "x" too short
    // abab pairs: ab, ba, ab -> per word: ab 2, ba 1; weighted x3
    val out = TextAnalysis.bpePairCounts(docs, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("ab" -> 6L, "ba" -> 3L, "cd" -> 1L))
  }

  // ----------------------------------------------------- funnel

  test("funnel: earliest-greedy sequential steps, out-of-order never counts") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // user 1 converts in order: view@1, click@3, purchase@5
      (1L, ts(1), "view"), (1L, ts(3), "click"), (1L, ts(5), "purchase"),
      // user 2: click BEFORE the first view never counts; no click after
      (2L, ts(2), "click"), (2L, ts(4), "view"), (2L, ts(6), "purchase"),
      // user 3: view then purchase but no click -> depth 1
      (3L, ts(1), "view"), (3L, ts(2), "purchase"),
      // user 4: no view at all -> depth 0
      (4L, ts(9), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = operators.EventWindows.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out(1L) == ((3, Some(1000000L), Some(5000000L))))
    assert(out(2L) == ((1, Some(4000000L), None)))
    assert(out(3L) == ((1, Some(1000000L), None)))
    assert(out(4L) == ((0, None, None)))
  }

  // -------------------------------------------- histogram quantiles

  test("histogramQuantiles: within a bin width of the exact percentile") {
    val vals = (1 to 2000).map(i => (i.toLong, "g", (i * 37 % 1000) / 10.0))
    val df = vals.toDF("id", "g", "v")
    val approx = operators.Rollups
      .histogramQuantiles(df, "v", Seq("g"), Seq(0.5, 0.9, 0.99), 0.0, 100.0, 1024)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val exact = df.groupBy("g")
      .agg(percentile(col("v"), typedLit(Seq(0.5, 0.9, 0.99))).as("p"))
      .select(explode(col("p"))).collect().map(_.getDouble(0))
    val width = 100.0 / 1024
    for (((p, got), want) <- approx.toSeq.sortBy(_._1).zip(exact.sorted))
      assert(math.abs(got - want) <= 2 * width + 1e-9,
        s"p=$p approx $got vs exact $want")
    // partition invariance: same estimates after a repartition
    val re = operators.Rollups
      .histogramQuantiles(df.repartition(13), "v", Seq("g"),
        Seq(0.5, 0.9, 0.99), 0.0, 100.0, 1024)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(re == approx)
  }

  // -------------------------------------------------- span coverage

  test("spanCoverage: per-doc duplicated-shingle fraction against the corpus") {
    val docs = Seq(
      (1L, "a b c d e"),       // shingles: [a b c][b c d][c d e]
      (2L, "a b c x y"),       // shares [a b c] with doc1 -> 1/3
      (3L, "a b c d q"),       // shares [a b c][b c d] -> 2/3
      (4L, "zz yy")).toDF("doc_id", "text") // too short: no shingles
    val out = Dedup.spanCoverage(docs, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((3L, 2L, 0.6667, true)))
    assert(out(2L) == ((3L, 1L, 0.3333, false)))
    assert(out(3L) == ((3L, 2L, 0.6667, true)))
    assert(out(4L) == ((0L, 0L, 0.0, false)))
  }

  // ------------------------------------------------------------ pii

  test("piiRedact: finds and strips each class, never double-counts a span") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "host 192.168.0.1 dial 415-555-0042 or 555-1234"),
      // the email's digits must NOT also count as a phone/ip
      (3L, "only 555-0042@mail7.example.com here"),
      (4L, "clean text with no pii at all")).toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(docs)
      .select("doc_id", "n_email", "n_ip", "n_phone", "redacted")
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getInt(2), x.getInt(3), x.getString(4))).toMap
    assert(r(1L) == ((1, 0, 0, "mail <EMAIL> now")))
    assert(r(2L) == ((0, 1, 2, "host <IP> dial <PHONE> or <PHONE>")))
    assert(r(3L) == ((1, 0, 0, "only <EMAIL> here")))
    assert(r(4L) == ((0, 0, 0, "clean text with no pii at all")))
  }

  // -------------------------------------------------- passage dedup

  test("passageDedup: keeps only the globally-first instance of each passage") {
    val docs = Seq(
      (1L, "a b c a b c x y"),   // chunks: [a b c][a b c][x y] — 2nd is a dup
      (2L, "a b c q r s"),       // [a b c] dup of doc1 pos0; [q r s] kept
      (3L, "q r s")).toDF("doc_id", "text") // dup of doc2's second chunk
    val out = Dedup.passageDedup(docs, passageLen = 3)
      .select("doc_id", "n_passages", "n_kept", "kept_md5")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(1L) == ((3, 2, m("a b c x y"))))
    assert(out(2L) == ((2, 1, m("q r s"))))
    assert(out(3L) == ((1, 0, m(""))))
  }

  // -------------------------------------------- temperature mixing

  test("temperatureSample: τ=1 is proportional; τ<1 up-samples small sources") {
    val docs = (1L to 400L).map(i => (i, if (i <= 320) "big" else "small"))
      .toDF("doc_id", "source")
    // τ=1: every source's rate collapses to budgetFrac exactly
    val flat = Sampling.temperatureSample(docs, temperature = 1.0, budgetFrac = 0.5)
      .select("source", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(flat == Map("big" -> 0.5, "small" -> 0.5))
    // τ=0.5: the small source's keep rate must exceed the big one's
    val r = Sampling.temperatureSample(docs, temperature = 0.5, budgetFrac = 0.5)
      .select("source", "rate").distinct().collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("small") > r("big"), r.toString)
    // partition-invariant: same surviving ids after a repartition
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.temperatureSample(d, temperature = 0.5, budgetFrac = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(docs) == ids(docs.repartition(13)))
  }

  // ------------------------------------------------------ int8 ann

  test("quantizeInt8: scale-invariant codes in [-127,127], zero vector safe") {
    val vs = Seq(
      (1L, Array(0.2f, -0.4f, 0.1f)),
      (2L, Array(0.6f, -1.2f, 0.3f)), // 3x vector 1 -> identical codes
      (3L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val codes = vs.select($"vec_id", graft.functions.quantizeInt8($"embedding").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(1L) == codes(2L), "per-vector scale cancels")
    assert(codes.values.flatten.forall(c => c >= -127 && c <= 127))
    assert(codes(1L).map(math.abs).max == 127, "max component maps to +/-127")
    assert(codes(3L).forall(_ == 0L))
  }

  // ---------------------------------------------------- transitions

  test("transitions: pairs respect session cuts; rows normalize to 1") {
    val ev = Seq(
      (1L, 1L, "A", "2020-01-01 00:00:00"),
      (2L, 1L, "B", "2020-01-01 00:01:00"),
      (3L, 1L, "C", "2020-01-01 05:00:00"), // 5h idle: new session, no B→C
      (4L, 2L, "A", "2020-01-01 00:00:00"),
      (5L, 2L, "C", "2020-01-01 00:05:00"))
      .toDF("event_id", "user_id", "event_type", "ts0")
      .withColumn("ts", col("ts0").cast("timestamp"))
    val out = graft.operators.Sessionize.transitions(ev, gapMinutes = 30)
      .select("from_type", "to_type", "n", "p")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out == Set(("A", "B", 1L, 0.5), ("A", "C", 1L, 0.5)))
  }

  // ------------------------------------------------ rolling anomaly

  test("rollingAnomaly: flags a spike, needs priors, floors flat baselines") {
    def dense(scores: Seq[Double]) =
      scores.zipWithIndex.map { case (s, i) => ("k", 1990 + i, s) }
        .toDF("k", "year", "score")
    // varied baseline then a spike: z = (3 - 1) / sd >> 2
    val varied = Seq(1.0, 1.2, 0.8, 1.1, 0.9, 3.0)
    val hit = graft.operators.Novelty.rollingAnomaly(dense(varied), Seq("k"))
      .collect()
    assert(hit.map(_.getInt(1)).toSeq == Seq(1995), hit.mkString(","))
    assert(hit.head.getDouble(3) > 2.0)
    // a spike right after the series starts has < minPrior priors
    val early = Seq(1.0, 1.4, 9.0)
    assert(graft.operators.Novelty.rollingAnomaly(dense(early), Seq("k")).isEmpty)
    // constant baseline: fp-zero variance must not fabricate infinite z
    val flat = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 9.0)
    assert(graft.operators.Novelty.rollingAnomaly(dense(flat), Seq("k")).isEmpty)
  }

  // ---------------------------------------------------- stratum cap

  test("capPerStratum: exact min(k, n) per stratum, window-equivalent, " +
      "partition-invariant") {
    val docs = (1L to 57L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val kept = Sampling.capPerStratum(docs, k = 5)
    val bySrc = kept.collect().groupBy(_.getString(0))
    assert(bySrc.keySet == Set("src0", "src1", "src2"))
    assert(bySrc.values.forall(_.length == 5), "every stratum caps at exactly k")
    // a stratum smaller than k keeps everything
    val tiny = Sampling.capPerStratum(docs.filter($"doc_id" <= 3), k = 5)
    assert(tiny.count() == 3)
    // the bounded aggregate lands on the same set as the window spelling
    val u = conv(substring(md5(concat($"doc_id".cast("string"), lit(":cap"))), 1, 13), 16, 10)
      .cast("long").cast("double")
    val viaWindow = docs
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(u, $"doc_id")))
      .filter($"rk" <= 5).select("source", "doc_id")
    assert(kept.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(kept).isEmpty)
    // partition layout cannot change a hash-decided sample
    val repart = Sampling.capPerStratum(docs.repartition(13), k = 5)
    assert(kept.exceptAll(repart).isEmpty && repart.exceptAll(kept).isEmpty)
  }

  // ------------------------------------------------------- pagerank

  test("pageRank: matches the scalar unroll on a path graph; mass ~1") {
    // path 1-2-3, symmetrized: degree 1,2,1
    val pairs = Seq((1L, 2L), (2L, 3L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = graft.operators.Graph.pageRank(edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same 8 synchronous rounds computed scalar-side
    val deg = Map(1L -> 1.0, 2L -> 2.0, 3L -> 1.0)
    val out = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    var rank = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
    for (_ <- 1 to 8) {
      val contrib = out.toSeq
        .flatMap { case (u, vs) => vs.map(v => v -> rank(u) / deg(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      rank = rank.keys.map(v =>
        v -> ((1 - 0.85) / 3 + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    rank.foreach { case (v, r) => assert(math.abs(got(v) - r) < 1e-12, s"node $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass is conserved")
    assert(got(2L) > got(1L), "the center outranks the leaves")
  }

  test("pageRank: lineage truncation bounds plan depth") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    // Without truncation the logical plan nests one full round per
    // iteration — 24 rounds would be ~8x deeper than 3. With the
    // every-3-rounds localCheckpoint the final plan is at most 3
    // rounds over a materialized relation, so depth is flat in iters.
    def depth(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case p => p }.length
    val d3 = depth(graft.operators.Graph.pageRank(edges, iters = 3))
    val d24 = depth(graft.operators.Graph.pageRank(edges, iters = 24))
    assert(d24 <= d3,
      s"plan depth must not grow with iters: $d24 (24 iters) vs $d3 (3)")
  }

  test("triangleCount: degree-oriented counts equal brute force on a hub graph") {
    // hub 1 connected to 2..6; extra edges close triangles (1,2,3),
    // (1,2,4), (1,3,4), (1,5,6), (2,3,4); duplicate + reversed inputs
    // must collapse
    val raw = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L),
      (2L, 3L), (3L, 4L), (5L, 6L), (2L, 4L), (2L, 3L))
    val got = graft.operators.Graph.triangleCount(raw.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force over the canonical edge set
    val e = raw.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct.toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && e((a, b))
      c <- nodes if b < c && e((b, c)) && e((a, c))
    } yield (a, b, c)
    val want = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(tris.size == 5, s"5 triangles expected, got $tris")
    assert(got == want, s"got $got want $want")
  }

  // --------------------------------------------------------- layout

  test("zValue: matches a scalar bit interleave; prefix cells nest") {
    val bits = 8
    def scalarZ(x: Long, y: Long): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).sum
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L), (3L, 12L))
    val got = pts.toDF("x", "y")
      .select(graft.operators.Layout.zValue(col("x"), col("y"), bits).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == pts.map(p => scalarZ(p._1, p._2)))
  }

  test("zorderStats: cells partition the rows and pruning flags the box") {
    val df = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toDF("x", "y")
    val stats = graft.operators.Layout
      .zorderStats(df, "x", "y", bits = 5, cellBits = 2,
        x0 = 0, x1 = 7, y0 = 0, y1 = 7)
      .collect()
    assert(stats.map(_.getLong(1)).sum == 32 * 32, "cells partition the rows")
    assert(stats.length == 4, "cellBits=2 → 4 quadtree cells")
    // with bits=5/cellBits=2 the cells ARE the 16×16 quadrants; only
    // quadrant (0,0) can contain the 8×8 query box
    val hits = stats.filter(_.getBoolean(6))
    assert(hits.length == 1 && hits.head.getLong(2) == 0 && hits.head.getLong(4) == 0,
      "exactly the origin quadrant survives pruning")
  }

  // ----------------------------------------------------------- dsir

  test("dsirTopK: target-like documents outrank the rest") {
    val docs = ((1 to 10).map(i => (i.toLong, "alpha alpha beta", "en")) ++
      (11 to 20).map(i => (i.toLong, "gamma gamma delta", "de")))
      .toDF("doc_id", "text", "lang")
    val ratios = Sampling.dsirLogRatios(docs, col("lang") === "en", buckets = 64)
    assert(ratios.length == 64)
    val top = Sampling.dsirTopK(docs, col("lang") === "en", k = 10,
        passThrough = Seq("lang"))
      .collect()
    assert(top.forall(_.getString(1) == "en"),
      "every top-10 doc must come from the target-looking slice: " +
        top.mkString(","))
    assert(top.forall(_.getDouble(2) > 0), "target-slice weights are positive")
  }

  test("langIdTrained learns a real signal the heuristic can't see (G7b)") {
    val s = spark
    import s.implicits._
    // signal-injected fixture: three languages with genuinely distinct
    // character-trigram distributions (deterministic rotations of
    // per-language word pools — no randomness). The de/es pools avoid
    // the heuristic's marker tokens, so the stopword scorer is blind
    // here while the trained model has everything it needs.
    val pools = Map(
      "en" -> Seq("quick", "brown", "fox", "jumps", "lazy", "dog",
        "with", "many", "words", "running", "through", "fields"),
      "de" -> Seq("schnelle", "braune", "fuchs", "springt", "faulen",
        "hund", "vielen", "woertern", "durch", "felder", "immer", "gerne"),
      "es" -> Seq("zorro", "marron", "rapido", "salta", "perro",
        "perezoso", "muchas", "palabras", "corriendo", "campos",
        "siempre", "gusta"))
    val docs = (for {
      ((lang, ws), li) <- pools.toSeq.sortBy(_._1).zipWithIndex
      i <- 0 until 80
    } yield {
      val text = (0 until 8).map(j => ws((i + j * 5) % ws.size)).mkString(" ")
      (li * 1000L + i, text, lang)
    }).toDF("doc_id", "text", "lang")
    val pred = TextAnalysis.langIdTrained(docs).collect()
    assert(pred.length > 30, s"hash split left too few test docs: ${pred.length}")
    val acc = pred.count(r => r.getString(1) == r.getString(2)).toDouble / pred.length
    assert(acc >= 0.9, s"trained language-ID must learn the injected signal, acc=$acc")
    val heur = TextAnalysis.langId(docs).select("lang", "lang_pred").collect()
    val hAcc = heur.count(r => r.getString(0) == r.getString(1)).toDouble / heur.length
    assert(acc > hAcc,
      s"trained ($acc) must beat the marker heuristic ($hAcc) on marker-free text")
  }

  test("langIdTrained vs heuristic on the driver corpus: the accuracy row (G7b)") {
    // The synthetic documents table carries NO real language signal
    // (every language shares one vocabulary; marker tokens for
    // de/es/fr never occur) — so this records the honest comparison
    // rather than asserting superiority: the heuristic collapses to
    // the majority class and the trained model hovers near it,
    // overfitting trigram noise. The MECHANISM is gated bit-for-bit
    // by q335's oracle; learnability by the fixture test above.
    val docs = sources.Tables(spark, sfDir).documents
    val trained = TextAnalysis.langIdTrained(docs).collect()
    val tAcc = trained.count(r => r.getString(1) == r.getString(2)).toDouble /
      trained.length
    val heur = TextAnalysis.langId(docs).select("lang", "lang_pred").collect()
    val hAcc = heur.count(r => r.getString(0) == r.getString(1)).toDouble /
      heur.length
    info(f"driver-corpus accuracy — trained NB: $tAcc%.4f, marker heuristic: $hAcc%.4f")
    assert(tAcc >= 0.0 && tAcc <= 1.0 && hAcc >= 0.0 && hAcc <= 1.0)
    // every scored doc gets exactly one prediction from the known set
    val langs = trained.map(_.getString(2)).toSet
    assert(langs.subsetOf(Set("de", "en", "es", "fr", "zh")), s"got $langs")
  }
}
