package graft

import graft.operators.{Dedup, Skew}
import graft.sources.{Io, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-design invariants: pushdown/pruning reach the scans, bucketed
  * joins need no shuffle, salted operators are result-equivalent, and
  * the SQL function surface is registered.
  */
class ScaleDesignSpec extends SparkSpec {

  private def tables = Tables(spark, sfDir)

  test("native expressions stay inside whole-stage codegen") {
    import graft.functions._
    import org.apache.spark.sql.graftshim.expressionOf
    // Guard 1, type-level: none of the native expressions may regress
    // to CodegenFallback (one boxed virtual call per row) — doGenCode
    // must be a real override, which Catalyst encodes as NOT mixing in
    // the fallback trait.
    val c = col("x")
    val natives = Seq[(String, org.apache.spark.sql.Column)](
      "harmonic_score" -> harmonicScore(c),
      "word_shingles_distinct" -> NativeText.wordShingles(c, 3),
      "minhash_signature" -> NativeText.minhashSig(c, 16),
      "long_dot" -> quantizedDot(c, c),
      "rolling_minhash" -> rollingMinHash(c),
      "pearson_p" -> pearsonP(c, c),
      "jaro_winkler" -> jaroWinkler(c, c),
      "nfc_normalize" -> nfcNormalize(c),
      "canonical_url" -> canonicalUrl(c),
      "word_shingles_all" -> NativeText.wordShinglesAll(c, 3),
      "ngram_md5s" -> NativeText.ngramMd5s(c, Seq(1, 2, 3)))
    for ((name, column) <- natives)
      assert(!expressionOf(column)
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback],
        s"$name regressed to CodegenFallback")
    // Guard 2, plan-level: where the expressions run as per-row
    // projections in real registered plans, the evaluating operator
    // line must carry the WholeStageCodegen marker `*(n)`. (The scalar
    // harmonic is absent here by design: the optimizer folds it into
    // the overall aggregate's RESULT projection — once per group, not
    // per row — so it never appears as a standalone projection line.)
    def codegenLines(q: String, marker: String): Unit = {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // AQE collapses codegen stages only as query stages materialize,
      // so the `*(n)` markers exist only on the FINAL executed plan —
      // and only for THIS QueryExecution (count() would plan its own).
      // The adaptive toString appends the marker-free "Initial Plan"
      // section; assert on the final section alone.
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // FileScan lines repeat the expression as pushed DataFilters
      // metadata — the actual evaluation is the Filter/Project above
      val lines = plan.linesIterator
        .filter(l => l.contains(marker) && !l.contains("FileScan")).toList
      assert(lines.nonEmpty, s"$q must evaluate $marker:\n$plan")
      assert(lines.forall(_.matches(""".*\*\(\d+\).*""")),
        s"$marker fell out of WholeStageCodegen in $q " +
          s"(CodegenFallback regression?):\n${lines.mkString("\n")}")
    }
    codegenLines("q31_dedup_minhash", "word_shingles_distinct")
    codegenLines("q31_dedup_minhash", "minhash_signature")
    codegenLines("q46_rolling_fp", "rolling_minhash")
    codegenLines("q19_peak_correlation", "pearson_p")
  }

  test("q146 bm25 plan: zero wide exchanges, broadcast stats, TakeOrdered top-k") {
    val plan = SparkEntry.queries("q146_bm25")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bm25 must not shuffle the corpus wide:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"corpus stats must come back as a broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a TakeOrdered, not a global sort:\n$plan")
  }

  test("linearTrend plan: one keys exchange with map-side partial aggregation") {
    // The operator itself (q147 adds one more exchange building its
    // year-count series input — that one belongs to the input, not the
    // trend): moment sums must collapse to ONE shuffle of six numbers
    // per key, partial-aggregated map-side.
    val plan = graft.operators.Rollups
      .linearTrend(tables.lineitem, Seq("l_returnflag"), "l_partkey", "l_extendedprice")
      .queryExecution.executedPlan.toString
    val wide = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(wide == 1, s"linearTrend must shuffle exactly once on the keys, got $wide:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"moment sums must partial-aggregate map-side before the exchange:\n$plan")
  }

  test("chunkDocuments plan is map-only: zero exchanges of any kind") {
    val plan = SparkEntry.queries("q148_chunk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must be a pure projection pass:\n$plan")
  }

  test("ohlcBars plan: one keys exchange with map-side partial aggregation") {
    val plan = graft.operators.EventWindows
      .ohlcBars(tables.events, Seq("event_type"), "ts", "value", "event_id", 3600000000L)
      .queryExecution.executedPlan.toString
    val wide = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(wide == 1, s"OHLC must shuffle exactly once on (keys, bar), got $wide:\n$plan")
    // min_by forces a SortAggregate; what matters is the partial phase
    // running before the exchange (map-side combine)
    assert(plan.contains("partial_min_by"),
      s"min_by/max_by state must partial-aggregate map-side:\n$plan")
  }

  test("compactionPlan itself costs one window exchange") {
    import spark.implicits._
    val files = Seq(("p", "a", 70L)).toDF("part", "file", "bytes")
    val plan = graft.operators.Layout
      .compactionPlan(files, Seq("part"), "file", "bytes", 100L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"one exchange on the partition cols:\n$plan")
  }

  test("tokenBudgetSelect never plans a single-task global window") {
    val t = tables
    val scored = t.documents.select(col("doc_id"),
      col("n_chars").cast("long").as("quality"),
      size(graft.operators.TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
    val plan = graft.operators.Sampling
      .tokenBudgetSelect(scored, "quality", "n_tokens", 50000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"the prefix sum must run bucketed, not on one task:\n$plan")
    assert(plan.contains("Window"), s"expected the in-bucket window:\n$plan")
  }

  test("mixtureEntropy plan: two stacked aggregates, two exchanges") {
    val plan = SparkEntry.queries("q155_mixture_entropy")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"(keys, cat) then (keys) — exactly two exchanges:\n$plan")
  }

  test("twoProportionZ plan: one conditional aggregate, one exchange") {
    val plan = SparkEntry.queries("q156_ab_ztest")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"all four arm counts must ride one aggregate:\n$plan")
  }

  test("winsorize broadcasts the threshold table back to the scan") {
    val plan = SparkEntry.queries("q157_winsorize")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"keys-sized thresholds must broadcast:\n$plan")
  }

  test("silhouette scores the corpus with no exchange before the final aggregate") {
    val plan = SparkEntry.queries("q161_silhouette")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // corpus side must reach the in-row top-2 scoring via the one-row
    // broadcast only; the sole wide exchange is the nCentroids-row agg
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"only the final per-cell aggregate may shuffle:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroid array must broadcast:\n$plan")
  }

  test("q20 scan pushes the shipdate filter and prunes columns") {
    val plan = SparkEntry.queries("q20_tpch_q1")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the parquet scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"unprojected columns must be pruned from the scan: $readSchema")
  }

  test("association-score plan stays single-scan with broadcast weights") {
    val plan = SparkEntry.queries("q02_assoc_overall")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"q02 must scan lineitem exactly once:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "weights dim must broadcast")
  }

  test("bucketed tables join without any exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // a table dir orphaned by a previous crashed run blocks saveAsTable
    for (d <- Seq("li_b", "ord_b")) {
      val p = new java.io.File(s"spark-warehouse/$d")
      if (p.exists()) {
        java.nio.file.Files.walk(p.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.delete(q))
      }
    }
    val t = tables
    Io.writeBucketed(t.lineitem.select("l_orderkey", "l_extendedprice"), "li_b", "l_orderkey", 4)
    Io.writeBucketed(t.orders.select("o_orderkey", "o_custkey"), "ord_b", "o_orderkey", 4)
    // force the sort-merge path: broadcast would bypass bucketing here,
    // and at scale neither side of a fact-fact join is broadcastable
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must be shuffle-free:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sketched n-gram diversity shuffles sketch-grain, never the gram stream") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val approx = graft.operators.TextAnalysis.ngramDiversityApprox(docs)
    val plan = approx.queryExecution.executedPlan.toString
    // exact q294 pays two exchanges (gram-hash grain, then slice
    // grain); the sketch variant must pay exactly ONE, at (slice, n)
    // grain, carrying partial HLL register files — the whole point
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex == 1, s"sketch variant must shuffle once, got $ex:\n$plan")
    assert(plan.contains("partial_hll_distinct"),
      s"map side must fold grams into registers before the exchange:\n$plan")
  }

  test("dedup cap guards stay aggregate-shaped — bounded exchanges, no shingle window") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nj = graft.operators.Dedup.ngramJaccard(docs, blockCol = "source")
    val njPlan = nj.queryExecution.executedPlan.toString
    val njEx = "Exchange hashpartitioning".r.findAllIn(njPlan).length
    // postings shuffle once for the df join (AQE-skew-splittable), the
    // vocabulary-sized df counts once (map-side combined), and the
    // pair aggregation once; the pair-expansion collect reuses the
    // join's (block, shingle) partitioning
    assert(njEx == 3, s"ngramJaccard must keep exactly 3 exchanges, got $njEx:\n$njPlan")
    // a shingle-partitioned window would funnel a stop-shingle's
    // posting list (≈ the corpus) into one task
    assert(!njPlan.contains("Window"), s"df-cap must not window over shingles:\n$njPlan")

    val mh = graft.operators.Dedup.minhashLshPairs(docs)
    val mhPlan = mh.queryExecution.executedPlan.toString
    val mhWindowed = "Exchange hashpartitioning".r.findAllIn(mhPlan).length
    val mhBare = graft.operators.Dedup
      .minhashLshPairs(docs, bucketCap = Int.MaxValue)
      .queryExecution.executedPlan.toString
    val mhNoGuard = "Exchange hashpartitioning".r.findAllIn(mhBare).length
    assert(mhWindowed == mhNoGuard,
      s"bucket-cap guard must not add an exchange: $mhWindowed vs $mhNoGuard:\n$mhPlan")

    // PPJoin's posting-cap guard window partitions by the SAME bucket
    // key as the candidate groupBy, so capped and effectively-uncapped
    // plans must carry identical exchange counts — the guard rides the
    // existing (k) partitioning, never adds a shuffle.
    val pj = graft.operators.Dedup.prefixJaccardJoin(docs)
    val pjPlan = pj.queryExecution.executedPlan.toString
    val pjEx = "Exchange hashpartitioning".r.findAllIn(pjPlan).length
    val pjBare = graft.operators.Dedup
      .prefixJaccardJoin(docs, postingCap = Int.MaxValue)
      .queryExecution.executedPlan.toString
    val pjNoGuard = "Exchange hashpartitioning".r.findAllIn(pjBare).length
    assert(pjEx == pjNoGuard,
      s"posting-cap guard must not add an exchange: $pjEx vs $pjNoGuard:\n$pjPlan")
    // and the guard must BE there: exactly one Window, keyed on k
    val pjWins = pj.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(pjWins.length == 1 &&
      pjWins.head.partitionSpec.map(_.sql) == Seq("k"),
      s"posting-cap guard must window exactly once over k:\n$pjPlan")
  }

  test("small-keyspace bucket counts aggregate+broadcast — never a bucket window") {
    // simhash prefixes (2^16) and hyperplane signs (2^planes) are tiny
    // key spaces: a count window over them funnels the corpus through
    // ≤|keys| tasks with no map-side combine
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for ((name, df) <- Seq(
        "simhash" -> graft.operators.Dedup.simhash(docs),
        "cosineNearDupPairs" ->
          graft.operators.SimilaritySearch.cosineNearDupPairs(emb))) {
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty, s"$name must not window over the bucket key")
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"$name bucket counts must broadcast back")
    }
  }

  test("contamination index broadcasts under the threshold, sort-merges beyond it") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // small benchmark → estimated index fits → broadcast hint applied
    val small = Dedup.crossContamination(docs, docs.limit(50))
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"),
      s"small benchmark index must broadcast:\n$small")
    // oversize benchmark (threshold squeezed to 1KB) → hint dropped,
    // shingle join degrades to sort-merge instead of a forced OOM
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      val big = Dedup.crossContamination(docs, docs)
        .queryExecution.executedPlan.toString
      assert(big.contains("SortMergeJoin"),
        s"oversize benchmark index must fall back to sort-merge:\n$big")
      assert(!big.contains("BroadcastHashJoin"),
        s"no broadcast may survive the fallback:\n$big")
      // explicit override beats the estimate: the caller who KNOWS the
      // index fits re-forces the broadcast under the same threshold
      val forced = Dedup.crossContamination(docs, docs,
          broadcastIndex = Some(true))
        .queryExecution.executedPlan.toString
      assert(forced.contains("BroadcastHashJoin"),
        s"broadcastIndex=Some(true) must force the hint:\n$forced")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q15 pushes the first-approval pair filter below the association chain") {
    val df = SparkEntry.queries("q15_approval_composite")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"pair filter must reach the evidence scan as a semi-join:\n$plan")
    // the semi-join must sit below the aggregation (scan side), i.e.
    // appear in the same stage as the lineitem scan, and broadcast
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(plan).isDefined ||
      plan.contains("LeftSemi, BuildRight"),
      s"semi-join should broadcast the key set:\n$plan")
  }

  test("q59/q72 term statistics partial-aggregate on the word key — no Zipf window") {
    for (q <- Seq("q59_unigram_lm", "q72_tfidf")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // a window partitioned by word funnels every occurrence of "the"
      // (≈ the whole corpus, under Zipf) into ONE task — cf/df must be
      // a groupBy on word (map-side combine) joined back instead
      val wordWindows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.exists(_.references.exists(_.name == "word")) => w
      }
      assert(wordWindows.isEmpty, s"$q must not window over the word key")
      df.collect() // finalize THIS QueryExecution's adaptive plan
      // AdaptiveSparkPlan.toString appends the pre-reuse initial plan;
      // only the final plan's scan count is the claim
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // cf/df derive from tf, so the (doc, word) exchange is shared:
      // the corpus is exploded once, scanned twice (tf chain + total)
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
        s"$q must reuse the tf exchange for the vocabulary table:\n$plan")
      assert("FileScan parquet".r.findAllIn(plan).size == 2,
        s"$q must scan documents exactly twice:\n$plan")
    }
  }

  test("q39/q49 IVF assigns cells in-row — no corpus exchange before the cell join") {
    for (q <- Seq("q39_ann_ivf", "q49_ann_ivf_trained")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      // the old shape ranked corpus×nCentroids rows with a window on
      // the vector id; the only window left must be the final top-k
      // over query_id
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty && windows.forall(
        _.partitionSpec.forall(_.references.forall(_.name == "query_id"))),
        s"$q: only the query_id top-k window may remain, got " +
          windows.map(_.partitionSpec).mkString(", "))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // corpus assignment is a projection over a one-row broadcast
      // centroid array: between the embeddings scan and the cell
      // equi-join there must be NO hash exchange on the corpus — every
      // hash exchange in the final plan sits at or above the
      // (query_id, id) pair aggregation
      val badExchange = "Exchange hashpartitioning\\(((?!query_id).)*\\)".r
        .findAllIn(plan).toList
        .filterNot(_.contains("pos"))     // lloyd re-center, nCentroids×dims rows
        .filterNot(_.contains("cell"))    // lloyd per-cell collect, nCentroids rows
      assert(badExchange.isEmpty,
        s"$q: corpus must reach the cell join unshuffled, got $badExchange:\n$plan")
    }
  }

  test("q73 HLL aggregates partially (sketches shuffle, not values)") {
    val plan = SparkEntry.queries("q73_hll_distinct")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"typed imperative aggregate should run in the object hash path:\n$plan")
    assert("partial_hll_distinct|partial(?s).*hll_distinct".r.findFirstIn(plan).isDefined,
      s"hll must partial-aggregate map-side:\n$plan")
  }

  test("q70 snapshot diff ships md5 hashes, not text, through the join") {
    val df = SparkEntry.queries("q70_snapshot_diff")(spark, sfDir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType.sql == "FULL OUTER" => j
    }
    assert(joins.nonEmpty, "diff must be a full-outer join")
    assert(joins.forall(_.children.forall(c => !c.output.exists(_.name == "text"))),
      "wide content column must be reduced to its md5 below the join")
  }

  test("q71 centroid table broadcasts against the test side") {
    val plan = SparkEntry.queries("q71_centroid_classify")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$plan")
  }

  test("driver contract: every oracle key has a query; entry returns rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      s"oracle without query: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty,
      s"every query must have an oracle; rows-only: $rowsOnly")
  }

  test("q10 full pipeline runs the score chain once — lag-decay novelty, no join-back") {
    // Novelty.attach rides the scoring chain's own window (consecutive
    // segment-filled years ⇒ lag(peak, δ) decay), so the dense lineage
    // is never re-joined: the finalized plan holds exactly ONE evidence
    // scan and needs no exchange reuse at all
    val df = SparkEntry.queries("q10_full_pipeline")(spark, sfDir)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"))
    val finalPlan = full.split("== Initial Plan ==").head
    assert("FileScan parquet \\[l_".r.findAllIn(finalPlan).size == 1,
      s"association chain must scan evidence exactly once:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("BroadcastHashJoin"), "ontology/weights dims must broadcast")
  }

  test("q02 keeps the scoring chain's pair exchange at the session's width") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // The pair repartition's bytes undercount the work behind it by the
    // calendar span (segment fill, overall's (pair, year) aggregate,
    // the novelty windows), so a byte-sized AQE merge ran that whole
    // stage in one task; its width is pinned to the session's instead.
    val df = SparkEntry.queries("q02_assoc_overall")(spark, sfDir)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o.children.flatMap(nodes)
    })
    val all = nodes(df.queryExecution.executedPlan)
    def isPair(s: ShuffleQueryStageExec) = s.shuffle.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name)) == Seq("diseaseId", "targetId")
      case _ => false
    }
    val pairStages = all.collect { case s: ShuffleQueryStageExec if isPair(s) => s }
    assert(pairStages.nonEmpty, s"no pair exchange in q02's final plan:\n${all.head}")
    assert(pairStages.forall(_.shuffle.numPartitions == width),
      pairStages.map(_.shuffle.numPartitions).mkString(", "))
    val coalesced = all.collect {
      case r: AQEShuffleReadExec if r.hasCoalescedPartition &&
          (r.child match { case s: ShuffleQueryStageExec => isPair(s); case _ => false }) => r
    }
    assert(coalesced.isEmpty, s"the pair exchange was coalesced:\n${coalesced.mkString("\n")}")
  }

  test("saltedAgg equals direct aggregation") {
    val t = tables
    val direct = t.evidence.groupBy("datasourceId")
      .agg(sum("score").as("sum_score"), count(lit(1)).as("n"))
    val salted = Skew.saltedAgg(t.evidence, Seq("datasourceId"), 8)(
      partial = Seq(sum("score").as("s"), count(lit(1)).as("c")),
      combine = Seq(sum("s").as("sum_score"), sum("c").as("n")))
    // compare rounded sums (salting changes double summation order)
    val d = direct.withColumn("sum_score", round(col("sum_score"), 6))
    val s = salted.withColumn("sum_score", round(col("sum_score"), 6))
    assert(d.exceptAll(s).isEmpty && s.exceptAll(d).isEmpty)
  }

  test("saltedJoin equals plain join") {
    val t = tables
    val dim = t.nation.select(col("n_nationkey"), col("n_name"))
    val plain = t.supplier.join(dim, col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val salted = Skew.saltedJoin(
        t.supplier.withColumnRenamed("s_nationkey", "n_nationkey"), dim,
        Seq("n_nationkey"), 8)
      .select("s_suppkey", "n_name")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("multi-column bucketed tables join on the composite key without exchange") {
    for (d <- Seq("ev_b1", "ev_b2")) {
      spark.sql(s"DROP TABLE IF EXISTS $d")
      val p = new java.io.File(s"spark-warehouse/$d")
      if (p.exists()) {
        java.nio.file.Files.walk(p.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.delete(q))
      }
    }
    val ev = tables.evidence
    Io.writeBucketed(ev.select("diseaseId", "targetId", "score"),
      "ev_b1", Seq("diseaseId", "targetId"), 4)
    Io.writeBucketed(ev.select(col("diseaseId"), col("targetId"), col("year")),
      "ev_b2", Seq("diseaseId", "targetId"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("ev_b1")
        .join(spark.table("ev_b2"), Seq("diseaseId", "targetId"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"composite-key bucketed join must be shuffle-free:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("overwritePartitions refreshes only the partitions in the frame") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dynpart").toString + "/t"
    Io.writeParquetPartitioned(
      Seq((1, 100), (1, 101), (2, 200)).toDF("p", "v"), dir, Seq("p"))
    Io.overwritePartitions(Seq((2, 999)).toDF("p", "v"), dir, Seq("p"))
    val out = spark.read.parquet(dir).select("p", "v")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(out == Set((1, 100), (1, 101), (2, 999)),
      s"partition 1 must survive, partition 2 must be replaced: $out")
  }

  test("compact rewrites a many-file directory into few files, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    spark.range(1000).repartition(16).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 16)
    Io.compact(spark, dir, 2)
    assert(nFiles <= 2, s"expected <=2 files after compaction, got $nFiles")
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("csv and jsonl round-trip the events table") {
    val t = tables
    val ev = t.events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    Io.writeCsv(ev, "/tmp/graft-io/events_csv")
    Io.writeJsonLines(ev, "/tmp/graft-io/events_jsonl")
    val csv = Io.readCsv(spark, "/tmp/graft-io/events_csv", schema)
    val jsonl = Io.readJsonLines(spark, "/tmp/graft-io/events_jsonl", schema)
    assert(csv.count() == ev.count() && jsonl.count() == ev.count())
    assert(csv.exceptAll(ev).isEmpty && jsonl.exceptAll(ev).isEmpty)
  }

  test("mergeSchema union reads missing epoch columns as null") {
    import spark.implicits._
    Seq((1L, "en")).toDF("doc_id", "lang")
      .write.mode("overwrite").parquet("/tmp/graft-io/se_v1")
    Seq((2L, "en", 10L)).toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft-io/se_v2")
    val merged = Io.readParquetMerged(spark,
      Seq("/tmp/graft-io/se_v1", "/tmp/graft-io/se_v2"))
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars"))
    val rows = merged.orderBy("doc_id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("n_chars")),
      "the v1 epoch must read the added column as null")
    assert(rows(1).getLong(rows(1).fieldIndex("n_chars")) == 10L)
  }

  test("csv quarantine routes malformed rows without dropping them") {
    import spark.implicits._
    Seq("1,10,0.5", "2,20,xbad", "3,30,1.5")
      .toDF("value").write.mode("overwrite").text("/tmp/graft-io/quar")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val q = Io.readCsvQuarantine(spark, "/tmp/graft-io/quar", schema)
    // the parsed value column must be referenced or column pruning
    // skips its parse and the quarantine never trips (pinned here)
    val r = q.agg(
        count(lit(1)).as("n"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("bad"),
        sum(col("value")).as("sv"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 2.0, "good rows keep their parsed values")
  }

  test("orc round-trips with pushdown and pruning like parquet") {
    val ev = tables.events.select(col("event_id"), col("user_id"), col("event_type"))
    Io.writeOrc(ev, "/tmp/graft-io/events_orc")
    val orc = Io.readOrc(spark, "/tmp/graft-io/events_orc")
    assert(orc.count() == ev.count())
    assert(orc.exceptAll(ev).isEmpty)
    val plan = orc.filter(col("user_id") === 7).select("event_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"),
      s"orc scan must push the filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint>"),
      s"orc scan must prune columns:\n$plan")
  }

  test("partitioned parquet write prunes partitions on read") {
    val t = tables
    Io.writeParquetPartitioned(
      t.evidence.withColumn("year", coalesce(col("year"), lit(0))),
      "/tmp/graft-io/ev_part", Seq("year"))
    val pruned = spark.read.parquet("/tmp/graft-io/ev_part").filter(col("year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"partition filter must prune directories:\n$plan")
  }

  test("q87 PII redaction is map-only: zero exchanges, single scan") {
    val plan = SparkEntry.queries("q87_pii_redact")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"piiRedact must stay a pure projection:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
  }

  test("q88 passage dedup: first-occurrence via partial agg, no window") {
    val df = SparkEntry.queries("q88_passage_dedup")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      "a passage-hash window would funnel Zipf-hot boilerplate into one task")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min(struct("),
      s"first occurrence must come from a map-side-combined min aggregate:\n$plan")
  }

  test("q89 temperature sampling never shuffles the kept corpus branch") {
    val df = SparkEntry.queries("q89_temperature_mix")(spark, sfDir)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val bhj = helper.collectFirst(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.getOrElse(fail("rates must join back as a broadcast"))
    val streamed = bhj.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.left
      case _ => bhj.right
    }
    val streamedShuffles = streamed.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(streamedShuffles.isEmpty,
      "the corpus reaches the rate join scan-locally; only the tiny " +
        "counts dim may shuffle")
  }

  test("q91 CMS builds with map-side combine (partial sketch aggregate)") {
    val plan = SparkEntry.queries("q91_cms_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_cms_sketch"),
      s"the sketch must collapse words map-side, shuffling one 32 KB " +
        s"counter file per task, never the words:\n$plan")
  }

  test("round-6 operator plans stay window-free where claimed") {
    // spanCoverage / funnel / retention / epochMix docstrings all
    // claim "no windows" — groupBy+join shapes only. A regression to
    // a window (e.g. df-per-shingle via partitionBy) reintroduces the
    // Zipf single-task funnel those shapes exist to avoid.
    for (q <- Seq("q93_span_coverage", "q95_funnel", "q97_retention",
        "q100_epoch_mix")) {
      val windows = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      assert(windows.isEmpty, s"$q must plan without Window nodes")
    }
  }

  test("q96 PQ: corpus encode is scan-local (no exchange below the ADC join)") {
    val df = SparkEntry.queries("q96_pq_ann")(spark, sfDir)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // the ADC scoring join is the non-equi join of corpus codes vs the
    // broadcast query tables; its streamed (corpus) side must reach it
    // with no shuffle — encoding is a pure projection
    val bnlj = helper.collect(df.queryExecution.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.nonEmpty, "ADC scoring must broadcast the query tables")
    val adc = bnlj.maxBy(_.toString.length) // outermost = the scoring join
    val streamed = adc.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => adc.left
      case _ => adc.right
    }
    // spread()'s RoundRobin repartition (local-parallelism helper) is
    // fine; what must not appear is a KEYED exchange — encoding never
    // shuffles on any column
    val keyed = streamed.collect {
      case e: ShuffleExchangeExec
          if !e.outputPartitioning.toString.contains("RoundRobin") => e
    }
    assert(keyed.isEmpty,
      s"corpus codes must reach the ADC join with no keyed exchange: $keyed")
  }

  test("q92 bloom probe filters the fact scan below the semi-join") {
    val df = SparkEntry.queries("q92_bloom_join")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    // the semi-join must exist, and its LEFT subtree must contain the
    // bloom probe filter (shiftleft/element_at bit test) — i.e. the
    // bloom prunes fact rows BEFORE they reach the join exchange
    val semi = plan.collectFirst {
      case j @ Join(_, _, LeftSemi, _, _) => j
    }.getOrElse(fail(s"no left-semi join in plan:\n$plan"))
    val probeBelow = semi.left.collect {
      case f: Filter if f.condition.toString.contains("shiftleft") => f
    }
    assert(probeBelow.nonEmpty,
      s"bloom probe filter must sit below the semi-join:\n$plan")
    // and the probe is a scan-side filter: no exchange between the
    // fact scan and the probe in the physical plan
    val phys = df.queryExecution.executedPlan.toString
    val probeIdx = phys.indexOf("shiftleft")
    val scanIdx = phys.indexOf("FileScan parquet", probeIdx)
    assert(probeIdx >= 0 && scanIdx > probeIdx &&
      !phys.substring(probeIdx, scanIdx).contains("Exchange"),
      s"no exchange may separate the probe from the fact scan:\n$phys")
  }

  test("SQL surface: registered functions compute the same scores") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT harmonic_score(array(0.8D, 0.4D, 0.2D)) AS h,
        |       word_shingles('a b c d', 3) AS sh,
        |       minhash_signature(word_shingles('a b c d', 3), 4) AS sig,
        |       harmonic_score(array(0.5D), 50, 1.6449340668482264) AS h3
        |""".stripMargin).head()
    val expected = (0.8 / 1 + 0.4 / 4 + 0.2 / 9) / GraftConf.MaxScore
    assert(math.abs(r.getDouble(0) - expected) < 1e-12)
    assert(math.abs(r.getDouble(3) - 0.5 / GraftConf.MaxScore) < 1e-12,
      "decimal-literal max_score must parse")
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(r.getSeq[String](2).length == 4)
  }

  test("extensions class wires the same function set") {
    assert(new GraftExtensions().isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
    assert(GraftExtensions.functions.map(_._1).toSet ==
      Set("harmonic_score", "word_shingles", "minhash_signature", "topk_harmonic",
        "topk_collect", "rolling_minhash", "hll_distinct", "canonical_url",
        "cms_sketch", "cms_estimate", "bloom_sketch", "bloom_might_contain",
        "hll_state", "hll_merge", "vector_sum",
        "bitmap_distinct", "bitmap_state", "bitmap_merge", "jaro_winkler",
        "nfc_normalize", "kll_state", "kll_merge", "kll_quantiles"))
  }

  test("SQL surface: state/merge rollups match their Column APIs") {
    GraftExtensions.register(spark)
    spark.range(3000)
      .select((col("id") % 900).as("v"), (col("id") % 4).as("g"))
      .createOrReplaceTempView("roll_in")
    // hll_state fine -> hll_merge coarse == hll_distinct direct
    val hllSql = spark.sql(
      """SELECT hll_merge(sk) AS e
        |FROM (SELECT g, hll_state(v) AS sk FROM roll_in GROUP BY g)""".stripMargin)
      .head().getDouble(0)
    val hllDirect = spark.sql("SELECT hll_distinct(v) AS e FROM roll_in")
      .head().getDouble(0)
    assert(hllSql == hllDirect)
    // bitmap_state fine -> bitmap_merge coarse == exact distinct
    val bmSql = spark.sql(
      """SELECT bitmap_merge(bm) AS u
        |FROM (SELECT g, bitmap_state(v) AS bm FROM roll_in GROUP BY g)""".stripMargin)
      .head().getLong(0)
    assert(bmSql == 900L)
    assert(spark.sql("SELECT bitmap_distinct(v) FROM roll_in").head().getLong(0) == 900L)
    // vector_sum of per-group CMS sketches == direct global sketch
    val vsSql = spark.sql(
      """SELECT vector_sum(sk) AS sk
        |FROM (SELECT g, cms_sketch(v) AS sk FROM roll_in GROUP BY g)""".stripMargin)
      .head().getSeq[Long](0)
    val direct = spark.sql("SELECT cms_sketch(v) AS sk FROM roll_in")
      .head().getSeq[Long](0)
    assert(vsSql == direct)
  }

  test("SQL surface: cms/bloom sketches match their Column APIs") {
    GraftExtensions.register(spark)
    spark.range(300).select((col("id") % 40).as("v"))
      .createOrReplaceTempView("sk_in")
    val sqlCms = spark.sql(
      """SELECT v, cms_estimate(sk, v) AS e
        |FROM (SELECT cms_sketch(v) AS sk FROM sk_in), (SELECT DISTINCT v FROM sk_in)
        |ORDER BY v""".stripMargin).collect().map(r => (r.getLong(0), r.getLong(1)))
    val apiSk = spark.table("sk_in")
      .agg(graft.functions.CmsSketch.cmsSketch(col("v")).as("sk"))
    val apiCms = spark.table("sk_in").distinct().join(apiSk)
      .select(col("v"), graft.functions.CmsSketch.cmsEstimate(col("sk"), col("v")).as("e"))
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sqlCms.toSeq == apiCms.toSeq)

    val probes = spark.sql(
      """SELECT p.id, bloom_might_contain(b.bl, p.id) AS hit
        |FROM (SELECT bloom_sketch(v) AS bl FROM sk_in) b,
        |     (SELECT id FROM range(0, 80)) p
        |ORDER BY p.id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    // members 0..39 always hit; 40..79 may only false-positive (rare at n=40)
    assert(probes.filter(_._1 < 40).forall(_._2), "no false negatives via SQL")
    assert(probes.count(p => p._1 >= 40 && p._2) <= 1)
  }

  test("q103 transitions: windows ride the user key; totals broadcast") {
    val df = SparkEntry.queries("q103_session_transitions")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("user_id")),
        "every window must partition on the high-cardinality user key, " +
          s"never the tiny event-type keyspace: ${w.partitionSpec}")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"row normalization must join the |types|-row totals by broadcast:\n$plan")
  }

  test("q104 rolling anomaly adds no exchange beyond the peaks chain") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def shuffles(q: String) = helper.collect(
      SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.size
    // q09 (peaks) is the same chain + a (keys)-partitioned window +
    // filter; the trailing z-score must plan with the identical
    // exchange count — its window rides the chain's (keys) exchange
    assert(shuffles("q104_rolling_anomaly") == shuffles("q09_peaks"),
      "the trailing-window z-score must ride the chain's (keys) exchange")
  }

  test("q106 stratum cap: bounded aggregate with map-side combine, no window") {
    val df = SparkEntry.queries("q106_stratum_cap")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      "a per-stratum row_number window would funnel a Zipf-hot stratum " +
        "into one task; the cap must stay an aggregate")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_priority_topk_ids"),
      s"the (priority, id) buffer must combine map-side — O(k) state " +
        s"per stratum per task, never the stratum's rows:\n$plan")
  }

  test("q105 DSIR scoring is scan-local: one scan, no shuffle, TakeOrdered") {
    val df = SparkEntry.queries("q105_dsir_select")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k selection must never global-sort:\n$plan")
    assert(!plan.contains("Exchange"),
      s"scoring folds each doc's tokens against the literal ratio " +
        s"table — a pure projection, zero corpus shuffle:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"scoring must scan the corpus exactly once:\n$plan")
  }

  test("q110 z-order cell assignment is a projection: no window, no sort, one shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q110_zorder")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "cell = z-prefix must not plan a Window")
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val exec = df.queryExecution.executedPlan
    assert(helper.collect(exec) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "write-layout stats must not global-sort")
    assert(helper.collect(exec) {
      case e: ShuffleExchangeExec => e
    }.size == 1, "exactly the per-cell aggregate's exchange")
  }

  test("q111 triangles: every join stays an equi hash/merge join") {
    val plan = SparkEntry.queries("q111_triangles")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge closure must plan as pure equi-joins:\n$plan")
  }

  test("q114 delta join: both delta terms broadcast against unshuffled history") {
    val df = SparkEntry.queries("q114_delta_join")(spark, sfDir)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val bhj = helper.collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 2,
      "dA⋈B' and A⋈dB must both plan as broadcast joins of the delta " +
        s"(got ${bhj.size} broadcast joins)")
  }

  test("RewriteWindowTopK: q126 drops the Window for the bounded aggregate, same rows") {
    val df = SparkEntry.queries("q126_window_topk_rewrite")(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "the rule must eliminate the Window")
    assert(df.queryExecution.executedPlan.toString.contains("graft_topk_rows"),
      "the bounded aggregate must carry the top-k")
    val on = df.orderBy("source", "rank").collect().toSeq
    spark.conf.set("spark.graft.rewriteWindowTopK", "false")
    try {
      val off = SparkEntry.queries("q126_window_topk_rewrite")(spark, sfDir)
      assert(off.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.nonEmpty, "with the rule off, the window formulation must survive")
      assert(off.orderBy("source", "rank").collect().toSeq == on,
        "rewritten and window plans must agree row for row")
    } finally spark.conf.set("spark.graft.rewriteWindowTopK", "true")
  }

  test("RewriteWindowTopK: desc/nulls order and extra conjuncts survive the rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val df = Seq((1L, "a", 5.0), (2L, "a", 9.0), (3L, "a", 7.0), (4L, "a", 8.0),
      (5L, "b", 1.0), (6L, "b", 2.0))
      .toDF("id", "g", "v")
      .withColumn("v2", when(col("id") === 3L, lit(null
        ).cast("double")).otherwise(col("v")))
    val w = W.partitionBy("g").orderBy(col("v2").desc_nulls_first)
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 && col("id") =!= 5L)
    assert(q.queryExecution.optimizedPlan.collect {
      case x: org.apache.spark.sql.catalyst.plans.logical.Window => x
    }.isEmpty)
    val got = q.select("id", "g", "rn").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // group a: desc nulls first → null(id 3) rn 1, then 9.0 (id 2) rn 2;
    // group b: 2.0 (id 6) rn 1, 1.0 (id 5) rn 2 but id 5 filtered out
    assert(got == Set((3L, "a", 1), (2L, "a", 2), (6L, "b", 1)), got.toString)
  }

  test("q127 profile: N columns of metrics from exactly one table scan") {
    val plan = SparkEntry.queries("q127_profile")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"the multi-distinct profile must cost one pass:\n$plan")
  }

  test("q113 KMV: bounded sketch aggregate, no window, no value-grain reshuffle") {
    // q113's overlap starts from an eager cut of this sketch, so the
    // sketch's own plan is the one that carries the claim
    val df = graft.operators.Kmv.sketch(tables.events, "event_type", col("user_id"), 64)
    assert(df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "k-smallest must be the bounded aggregate, never a ranked window")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("priority_topk_ids"),
      s"sketch must build via the O(k)-state aggregate:\n$plan")
  }

  test("q112/q118: islands and SCD2 ride exactly one user-keyed exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    for (q <- Seq("q112_interval_merge", "q118_scd2")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.foreach { w =>
        assert(w.partitionSpec.exists(_.toString.contains("user_id")),
          s"$q: every window must partition on the user key: ${w.partitionSpec}")
      }
      // the run/island rollup and the closing lead-window must all
      // reuse the first window's hash(user) exchange
      assert(helper.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.size == 1, s"$q: windows + rollup must share one user exchange")
    }
  }

  test("round-8 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def windows(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    def noLoopJoins(q: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        allowOneRowBroadcastLoop: Boolean = false): Unit = {
      assert(helper.collect(qe.executedPlan) {
        case j: CartesianProductExec => j
      }.isEmpty, s"$q must not build a cartesian product")
      val loops = helper.collect(qe.executedPlan) {
        case j: BroadcastNestedLoopJoinExec => j
      }
      if (!allowOneRowBroadcastLoop)
        assert(loops.isEmpty, s"$q must not nested-loop join")
      else assert(loops.size <= 1, s"$q: only the 1-row bounds attach may loop")
    }

    // q172: ONE as-of sort-merge pass — every window partitions on the
    // user key and no self-join of the event table appears
    val q172 = exec("q172_attribution")
    noLoopJoins("q172_attribution", q172)
    assert(windows(q172).nonEmpty &&
      windows(q172).forall(_.partitionSpec.exists(_.toString.contains("user_id"))),
      "q172: the as-of merge window must ride the user key")

    // q173: aggregate-only — the rep fan-out is absorbed map-side, so
    // the plan has zero windows and only keys-grain exchanges
    val q173 = exec("q173_bootstrap_ci")
    noLoopJoins("q173_bootstrap_ci", q173)
    assert(windows(q173).isEmpty, "q173 must stay window-free")
    // r17: the ×64 rep explode is gone (RepWeightVec + VectorSum at
    // key grain), so the budget is back down: spread() round-robin of
    // the compact rows, ONE keys-grain aggregate exchange (shared by
    // the CI and base branches via reuse), and the CI join's sorts
    assert(shuffles(q173).size <= 3,
      s"q173: keys-grain exchanges only, got ${shuffles(q173).size}")

    // q174 (round-10 value-grain reshape): the corpus collapses to the
    // (keys, value) weight table BEFORE any window — see the round-10
    // window-input pin for the grain invariant itself. The exchange
    // budget of the new shape, every one keys- or value-grain sized:
    //   1. rows → (keys, value) map-side combine
    //   2. keys-grain re-exchange feeding the cumulative/total windows
    //      + crossing-summary aggregate (windows and agg share it)
    //   3. rows-side join exchange for the tie refinement
    //   4. tie-refinement rollup to one row per key
    //   5. star ⋈ before result join
    // None of these sorts corpus rows within a single low-cardinality
    // key partition — that was the r9 scale-killer this shape removed.
    val q174 = exec("q174_weighted_median")
    assert(windows(q174).forall(
        _.partitionSpec.exists(_.toString.contains("event_type"))),
      "q174: every window must partition on event_type")
    assert(shuffles(q174).size <= 5,
      s"q174: value-grain exchange budget is 5, got ${shuffles(q174).size}")

    // q175: the corpus is touched by exactly one scan feeding the cell
    // aggregate; every window runs over the dim² cell table
    val q175 = exec("q175_mutual_info")
    val scans175 = helper.collect(q175.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans175.size == 1, s"q175: one corpus scan, got ${scans175.size}")
    assert(windows(q175).size == 4, "q175: marginals/total/mi are cell-table windows")

    // q176: the rank window partitions on the slice key (vocabulary-
    // sized frames), and the trend is aggregate-only above it
    val q176 = exec("q176_zipf")
    noLoopJoins("q176_zipf", q176)
    assert(windows(q176).size == 1 &&
      windows(q176).head.partitionSpec.exists(_.toString.contains("source")),
      "q176: exactly the per-source rank window")

    // q177: no windows anywhere — file tags are projections, the only
    // loop join is the broadcast of the ONE-ROW boundary frame
    val q177 = exec("q177_zone_map")
    assert(windows(q177).isEmpty, "q177 must stay window-free")
    noLoopJoins("q177_zone_map", q177, allowOneRowBroadcastLoop = true)
  }

  test("round-8 batch-2 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def scans(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    def windows(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }

    // q186: the gap window rides the series keys; the report rollup is
    // the only other exchange
    val q186 = exec("q186_interarrival")
    assert(windows(q186).size == 1 &&
      windows(q186).head.partitionSpec.exists(_.toString.contains("user_id")),
      "q186: exactly the series-key lag window")
    assert(shuffles(q186).size <= 2,
      s"q186: series exchange + report rollup only, got ${shuffles(q186).size}")

    // q187: one corpus scan; every window frame is the ARM table
    val q187 = exec("q187_ucb1")
    assert(scans(q187).size == 1, s"q187: one corpus scan, got ${scans(q187).size}")
    assert(windows(q187).size == 2, "q187: total_n + rank, both arm-table windows")

    // q188: the kept slice comes from a TakeOrdered heap, never a
    // global vocabulary sort; the corpus is counted once per branch
    // (freq feeds both the slice and the one-row total)
    val q188 = exec("q188_vocab_build")
    assert(q188.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q188: top slice must be TakeOrdered")

    // q189: pair expansion is IN-ROW (no self-join of baskets); the
    // only loop join attaches the one-row basket total
    val q189 = exec("q189_basket_lift")
    assert(helper.collect(q189.executedPlan) {
      case j: CartesianProductExec => j
    }.isEmpty, "q189 must not build a cartesian product")
    assert(helper.collect(q189.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q189: only the 1-row total may loop-join")
    assert(q189.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q189: top-k must be TakeOrdered")
    assert(windows(q189).isEmpty, "q189 must stay window-free")

    // q190: the corpus collapsed to day grain ONCE at the eager cut —
    // the final plan never touches the parquet again
    val q190 = exec("q190_xcorr")
    assert(windows(q190).isEmpty, "q190 must stay window-free")
    assert(scans(q190).isEmpty,
      s"q190: corpus must be cut at the day-grain checkpoint, got ${scans(q190).size} scans")

    // q192: the round-10 ValueGrainCap guard (row_number) stacks a
    // SECOND logical Window under the shared cumulative-CDF window —
    // both ride the value-grain table behind the checkpoint cut, and
    // the guard is free at the physical layer: ONE SortExec serves
    // both (WindowExec preserves distribution and ordering), zero
    // extra exchanges vs the unguarded shape.
    val q192 = exec("q192_ks_test")
    assert(windows(q192).size == 2,
      s"q192: guard + cumulative-CDF windows, got ${windows(q192).size}")
    assert(helper.collect(q192.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.size == 1,
      "q192: the guard must reuse the cumulative window's single sort")
    assert(scans(q192).isEmpty,
      s"q192: corpus must be cut at the value-grain checkpoint, got ${scans(q192).size} scans")

    // q193: aggregate + projection — no windows, one scan, one exchange
    val q193 = exec("q193_dp_counts")
    assert(windows(q193).isEmpty, "q193 must stay window-free")
    assert(scans(q193).size == 1, s"q193: one scan, got ${scans(q193).size}")
    assert(shuffles(q193).size == 1,
      s"q193: one keys-grain exchange, got ${shuffles(q193).size}")

    // q194: the pair join is an equi join on the block key (never a
    // product or a loop); the cap window ran INSIDE the entity-grain
    // checkpoint cut, so the final plan carries no window at all
    val q194 = exec("q194_er_blocked")
    assert(helper.collect(q194.executedPlan) {
      case j: CartesianProductExec => j
    }.isEmpty, "q194 must not build a cartesian product")
    assert(helper.collect(q194.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "q194 must not nested-loop join")
    assert(windows(q194).isEmpty,
      "q194: the cap window must stay behind the checkpoint cut")
  }

  test("round-8 batch-3 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def scans(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    def windows(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    def noCartesian(q: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      assert(helper.collect(qe.executedPlan) {
        case j: CartesianProductExec => j
      }.isEmpty, s"$q must not build a cartesian product")

    // q195: the O(m²) slope expansion is IN-ROW — no window, no join,
    // the series collapse and the in-row median share one agg chain
    val q195 = exec("q195_theil_sen")
    assert(windows(q195).isEmpty, "q195 must stay window-free")
    noCartesian("q195_theil_sen", q195)
    assert(shuffles(q195).size <= 2,
      s"q195: series + keys-grain exchanges only, got ${shuffles(q195).size}")

    // q196: rank/tie windows and the moment rollup all partition on
    // the key — no partitionless window anywhere
    val q196 = exec("q196_spearman")
    assert(windows(q196).nonEmpty &&
      windows(q196).forall(_.partitionSpec.exists(_.toString.contains("event_type"))),
      "q196: every window must ride the event_type key")

    // q197: cumulative, totals, and the argmax rank all ride the keys
    val q197 = exec("q197_changepoint")
    assert(windows(q197).nonEmpty &&
      windows(q197).forall(_.partitionSpec.exists(_.toString.contains("event_type"))),
      "q197: every window must ride the event_type key")

    // q199: value-grain checkpoint cut — the final plan reads no file
    val q199 = exec("q199_mann_whitney")
    assert(scans(q199).isEmpty,
      s"q199: corpus must be cut at the value-grain checkpoint, got ${scans(q199).size}")

    // q200: boundary cumsum + argmax ride the supplier key
    val q200 = exec("q200_concurrency")
    assert(windows(q200).nonEmpty &&
      windows(q200).forall(_.partitionSpec.exists(_.toString.contains("l_suppkey"))),
      "q200: every window must ride the supplier key")
    noCartesian("q200_concurrency", q200)

    // q201: one scan to the nine-row digit table
    val q201 = exec("q201_benford")
    assert(scans(q201).size == 1, s"q201: one scan, got ${scans(q201).size}")

    // q202: user-day checkpoint cut feeds all three horizons — no
    // file re-scan, no window (distincts are aggregates)
    val q202 = exec("q202_stickiness")
    assert(scans(q202).isEmpty,
      s"q202: corpus must be cut at the user-day checkpoint, got ${scans(q202).size}")
    assert(windows(q202).isEmpty, "q202 must stay window-free")
  }

  test("round-8 batch-4 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def scans(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    def windows(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    def noCartesian(q: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      assert(helper.collect(qe.executedPlan) {
        case j: CartesianProductExec => j
      }.isEmpty, s"$q must not build a cartesian product")

    // q203: each funnel stage's plan re-expands its ancestors, so the
    // event scans are triangular in the STEP LIST (steps(steps+1)/2 +
    // the distinct-user spine = 7 for 3 steps) — bounded by the fixed
    // step count, never by data; the only window is the lag over the
    // 4-row step spine
    val q203 = exec("q203_funnel_steps")
    assert(scans(q203).size <= 7,
      s"q203: step-bounded event scans only, got ${scans(q203).size}")
    assert(windows(q203).size == 1, "q203: exactly the 4-row spine lag window")

    // q204: the whole k-column matrix is ONE scan + ONE map-side
    // combined aggregate — no window, no join, corpus touched once
    val q204 = exec("q204_corr_matrix")
    assert(scans(q204).size == 1, s"q204: one scan, got ${scans(q204).size}")
    assert(windows(q204).isEmpty, "q204 must stay window-free")
    assert(shuffles(q204).size <= 1,
      s"q204: one global-aggregate exchange, got ${shuffles(q204).size}")
    noCartesian("q204_corr_matrix", q204)

    // q205: series eager-cut (feeds fit AND residual pass — zero file
    // re-scan); trend attach is keys-grain broadcast; the lag window
    // rides the series keys
    val q205 = exec("q205_durbin_watson")
    assert(scans(q205).isEmpty,
      s"q205: series must be cut at the checkpoint, got ${scans(q205).size} scans")
    assert(helper.collect(q205.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q205: the keys-grain trend attach must broadcast")
    assert(windows(q205).nonEmpty &&
      windows(q205).forall(_.partitionSpec.exists(_.toString.contains("datasourceId"))),
      "q205: every window must ride the series keys")

    // q206: the posexplode fan is absorbed by the (dim) combine — one
    // scan, and the only window is the rank over the WIDTH-sized table
    val q206 = exec("q206_embedding_drift")
    assert(scans(q206).size == 1, s"q206: one scan, got ${scans(q206).size}")
    assert(windows(q206).size == 1, "q206: exactly the dim-table rank window")
    noCartesian("q206_embedding_drift", q206)

    // q207/q208/q210: pure aggregate chains — window-free, one scan
    for (q <- Seq("q207_anova", "q208_welch", "q210_mde")) {
      val qe = exec(q)
      assert(scans(qe).size == 1, s"$q: one scan, got ${scans(qe).size}")
      assert(windows(qe).isEmpty, s"$q must stay window-free")
      noCartesian(q, qe)
    }
    // q208/q210 are single global aggregates: exactly one exchange
    for (q <- Seq("q208_welch", "q210_mde"))
      assert(shuffles(exec(q)).size == 1,
        s"$q: one global-aggregate exchange")

    // q209: both windows are dim-shaped — rank partitions on the day,
    // the movement lag on the item; the corpus collapses once
    val q209 = exec("q209_trending")
    assert(scans(q209).size == 1, s"q209: one scan, got ${scans(q209).size}")
    assert(windows(q209).size == 2 &&
      windows(q209).forall(w => w.partitionSpec.exists(p =>
        p.toString.contains("day") || p.toString.contains("item"))),
      "q209: exactly the day-rank and item-lag windows")

    // q211: smoother, lag, and rollup all ride the series keys
    val q211 = exec("q211_ewma_backtest")
    assert(scans(q211).size == 1, s"q211: one scan, got ${scans(q211).size}")
    assert(windows(q211).nonEmpty &&
      windows(q211).forall(_.partitionSpec.exists(_.toString.contains("datasourceId"))),
      "q211: every window must ride the series keys")

    // q212: the share window partitions on the query label (label² at
    // most); the ride on the sampled brute-force is the only loop join
    val q212 = exec("q212_label_confusion")
    noCartesian("q212_label_confusion", q212)
    assert(windows(q212).exists(_.partitionSpec.exists(_.toString.contains("label_q"))),
      "q212: the share window must partition on label_q")

    // q213: centroid attach broadcasts the label-count-sized table;
    // the outlier pick is the only window and rides the label
    val q213 = exec("q213_centroid_outliers")
    assert(helper.collect(q213.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q213: the centroid attach must broadcast")
    assert(windows(q213).size == 1 &&
      windows(q213).head.partitionSpec.exists(_.toString.contains("lbl")),
      "q213: exactly the label-partitioned rank window")
    noCartesian("q213_centroid_outliers", q213)

    // q214 (r17 single-pass): RepWeightVec + VectorSum fold every rep
    // AND the base counts into ONE aggregate over ONE scan — the r16
    // checkpoint (which existed to share rows between the rep fan and
    // the base pass) is gone because there is only one pass left;
    // window-free; the only loop join is the one-row CI attach
    val q214 = exec("q214_bootstrap_diff")
    assert(scans(q214).size <= 1,
      s"q214: one single-pass scan, got ${scans(q214).size} scans")
    assert(windows(q214).isEmpty, "q214 must stay window-free")
    assert(helper.collect(q214.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q214: only the 1-row CI attach may loop")

    // q215: two corpus passes (boundary aggregate + binning combine);
    // the only loop join is the one-row boundary broadcast; all
    // windows ride the ≤10-row bin table
    val q215 = exec("q215_psi")
    assert(scans(q215).size == 2,
      s"q215: boundary + binning scans only, got ${scans(q215).size}")
    noCartesian("q215_psi", q215)
    assert(helper.collect(q215.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q215: only the 1-row boundary attach may loop")
    assert(windows(q215).size <= 2, "q215: bin-table windows only")

    // q216/q217: value-grain collapse behind an eager cut, then the
    // range-bounded cumulative window plus the round-10 ValueGrainCap
    // guard window (row_number) stacked on the SAME sort — 2 logical
    // Window nodes, but physically ONE SortExec and no extra exchange
    // (the scale claim the guard must keep proving).
    for (q <- Seq("q216_auc", "q217_gini")) {
      val qe = exec(q)
      assert(scans(qe).isEmpty,
        s"$q: corpus must be cut at the value-grain checkpoint, got ${scans(qe).size}")
      assert(windows(qe).size == 2,
        s"$q: guard + cumulative windows, got ${windows(qe).size}")
      assert(helper.collect(qe.executedPlan) {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size == 1,
        s"$q: the guard must reuse the cumulative window's single sort")
      noCartesian(q, qe)
    }

    // q218/q219: the whole moment matrix is ONE scan + ONE global
    // aggregate — window-free, join-free
    for (q <- Seq("q218_ols2", "q219_partial_corr")) {
      val qe = exec(q)
      assert(scans(qe).size == 1, s"$q: one scan, got ${scans(qe).size}")
      assert(windows(qe).isEmpty, s"$q must stay window-free")
      assert(shuffles(qe).size <= 1,
        s"$q: one global-aggregate exchange, got ${shuffles(qe).size}")
      noCartesian(q, qe)
    }

    // q220: frame eager-cut (feeds revenue combine AND cohort sizes);
    // the size attach broadcasts; the only window left above the cut
    // rides the cohort key over the dim-sized matrix
    // q221: capped blocked self-join — equi on the block key (never
    // a loop join), entity table eager-cut, the cap window behind it
    val q221 = exec("q221_jw_blocked")
    assert(scans(q221).isEmpty,
      s"q221: entity table must be cut at the checkpoint, got ${scans(q221).size}")
    assert(windows(q221).isEmpty, "q221: the cap window stays behind the cut")
    noCartesian("q221_jw_blocked", q221)
    assert(helper.collect(q221.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "q221: the pair join must stay an equi join on the block key")

    // q262: the F42 shape — broadcast boundaries, bin-table windows
    val q262 = exec("q262_roc_curve")
    noCartesian("q262_roc_curve", q262)
    assert(helper.collect(q262.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q262: only the 1-row boundary attach may loop")

    // q258: pure projection — one scan, nothing else
    val q258 = exec("q258_readability")
    assert(scans(q258).size == 1, s"q258: one scan, got ${scans(q258).size}")
    assert(windows(q258).isEmpty && shuffles(q258).isEmpty,
      "q258 must stay a map-only projection")

    // q259: one label combine + dim windows
    val q259 = exec("q259_label_balance")
    assert(scans(q259).size == 1, s"q259: one scan, got ${scans(q259).size}")
    noCartesian("q259_label_balance", q259)

    // q256 (r17 single-pass): RepWeightVec + VectorSum fold the rep
    // coin sums AND the observed-diff counts into ONE aggregate over
    // ONE scan — the r16 checkpoint is gone with the second pass;
    // 1-row report attaches only
    val q256 = exec("q256_permutation")
    assert(scans(q256).size <= 1,
      s"q256: one single-pass scan, got ${scans(q256).size}")
    assert(windows(q256).isEmpty, "q256 must stay window-free")
    assert(helper.collect(q256.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 2, "q256: only the 1-row report attaches may loop")

    // q257: one threshold aggregate + one broadcast-joined moment pass
    val q257 = exec("q257_yuen")
    assert(scans(q257).isEmpty,
      s"q257: rows must be cut at the checkpoint, got ${scans(q257).size}")
    assert(windows(q257).isEmpty, "q257 must stay window-free")
    assert(helper.collect(q257.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q257: the threshold attach must broadcast")

    // q255: one (segment) combine, segment-table windows only
    val q255 = exec("q255_heterogeneity")
    assert(scans(q255).size == 1, s"q255: one scan, got ${scans(q255).size}")
    noCartesian("q255_heterogeneity", q255)
    assert(shuffles(q255).size <= 2,
      s"q255: segment combine + window exchange only, got ${shuffles(q255).size}")

    // q252: phrase frame eager-cut (feeds stats, scores, occurrence
    // counts); word stats join on the word key; TakeOrdered top-k
    val q252 = exec("q252_rake")
    assert(scans(q252).isEmpty,
      s"q252: phrases must be cut at the checkpoint, got ${scans(q252).size}")
    assert(windows(q252).isEmpty, "q252 must stay window-free")
    noCartesian("q252_rake", q252)
    assert(helper.collect(q252.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "q252: top-k must be a TakeOrdered heap, not a sort")

    // q253: the D19 shape + one filter pass — no windows above the
    // cut, broadcast seasonal/sd attaches
    val q253 = exec("q253_stl_anomalies")
    assert(scans(q253).isEmpty,
      s"q253: frame must be cut at the checkpoint, got ${scans(q253).size}")
    assert(windows(q253).isEmpty, "q253: the trend window stays behind the cut")
    assert(helper.collect(q253.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q253: threshold attaches must broadcast")

    // q250: the lead window rides the user key; cell windows are
    // states²-sized
    val q250 = exec("q250_entropy_rate")
    assert(scans(q250).size == 1, s"q250: one scan, got ${scans(q250).size}")
    noCartesian("q250_entropy_rate", q250)

    // q251: gap lag + user combine on ONE (user) exchange
    val q251 = exec("q251_bot_flags")
    assert(scans(q251).size == 1, s"q251: one scan, got ${scans(q251).size}")
    assert(windows(q251).size == 1 &&
      windows(q251).head.partitionSpec.exists(_.toString.contains("user_id")),
      "q251: exactly the user-key lag window")
    assert(shuffles(q251).size == 1,
      s"q251: one user exchange, got ${shuffles(q251).size}")

    // q247: one percentile combine at day grain — window-free
    val q247 = exec("q247_daily_bands")
    assert(scans(q247).size == 1, s"q247: one scan, got ${scans(q247).size}")
    assert(windows(q247).isEmpty, "q247 must stay window-free")

    // q248: eager-cut (day, cat) grain feeds baseline AND the daily
    // contributions; the baseline attaches as a broadcast
    val q248 = exec("q248_mix_shift")
    assert(scans(q248).isEmpty,
      s"q248: grain must be cut at the checkpoint, got ${scans(q248).size}")
    assert(helper.collect(q248.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q248: the baseline attach must broadcast")

    // q249: pair expansion IN-ROW on the eager-cut (user, cats)
    // collapse; marginal attaches broadcast; dim²-sized output
    val q249 = exec("q249_audience_overlap")
    assert(scans(q249).isEmpty,
      s"q249: collapse must be cut at the checkpoint, got ${scans(q249).size}")
    assert(windows(q249).isEmpty, "q249 must stay window-free")
    noCartesian("q249_audience_overlap", q249)

    // q244/q245: the user frame collapses once, then ONE moment
    // aggregate — window-free, loop joins only for 1-row anchors
    for (q <- Seq("q244_cuped", "q245_ratio_delta")) {
      val qe = exec(q)
      assert(windows(qe).isEmpty, s"$q must stay window-free")
      noCartesian(q, qe)
      assert(helper.collect(qe.executedPlan) {
        case j: BroadcastNestedLoopJoinExec => j
      }.size <= 1, s"$q: only a 1-row anchor attach may loop")
    }

    // q241: the F42 shape — broadcast boundaries, bin-table windows
    val q241 = exec("q241_qini")
    noCartesian("q241_qini", q241)
    assert(helper.collect(q241.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q241: only the 1-row boundary attach may loop")

    // q242: the C(w,3) expansion is IN-ROW on the basket collapse —
    // no cartesian, no windows, TakeOrdered top-k (no global sort)
    val q242 = exec("q242_triples")
    assert(windows(q242).isEmpty, "q242 must stay window-free")
    noCartesian("q242_triples", q242)
    assert(helper.collect(q242.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, "q242: top-k must be a TakeOrdered heap, not a sort")

    // q243: two percentile combines + one filter pass — no window,
    // broadcast threshold attaches
    val q243 = exec("q243_outliers")
    assert(windows(q243).isEmpty, "q243 must stay window-free")
    assert(helper.collect(q243.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.size >= 2, "q243: median and MAD must attach as broadcasts")
    noCartesian("q243_outliers", q243)

    // q238: I25's broadcast-boundary binning — never a corpus ntile;
    // windows ride the ≤10-row bin table
    val q238 = exec("q238_lift_curve")
    assert(scans(q238).size == 2,
      s"q238: boundary + binning scans only, got ${scans(q238).size}")
    noCartesian("q238_lift_curve", q238)
    assert(helper.collect(q238.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q238: only the 1-row boundary attach may loop")

    // q239: every window rides the cohort key (the KM shape)
    val q239 = exec("q239_cum_hazard")
    assert(windows(q239).nonEmpty &&
      windows(q239).forall(_.partitionSpec.exists(_.toString.contains("cohort"))),
      "q239: every window must ride the cohort key")
    noCartesian("q239_cum_hazard", q239)

    // q240: the labeling scan + the ts-only anchor scan, then one
    // (user) combine
    val q240 = exec("q240_churn_labels")
    assert(scans(q240).size == 2,
      s"q240: label + anchor scans only, got ${scans(q240).size}")
    assert(windows(q240).isEmpty, "q240 must stay window-free")
    assert(helper.collect(q240.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q240: only the 1-row anchor attach may loop")

    // q233: one scan, one global aggregate, window-free
    val q233 = exec("q233_srm")
    assert(scans(q233).size == 1, s"q233: one scan, got ${scans(q233).size}")
    assert(windows(q233).isEmpty, "q233 must stay window-free")
    assert(shuffles(q233).size == 1,
      s"q233: one global-aggregate exchange, got ${shuffles(q233).size}")

    // q234: map-only fidelity + a one-row combine — no joins at all
    val q234 = exec("q234_int8_fidelity")
    assert(scans(q234).size == 1, s"q234: one scan, got ${scans(q234).size}")
    assert(windows(q234).isEmpty, "q234 must stay window-free")
    noCartesian("q234_int8_fidelity", q234)

    // q235: pair frame eager-cut (trains AND scores); the model
    // attaches back as a states-sized broadcast; the only window
    // (the lead) stays behind the cut
    val q235 = exec("q235_transition_acc")
    assert(scans(q235).isEmpty,
      s"q235: pairs must be cut at the checkpoint, got ${scans(q235).size}")
    assert(helper.collect(q235.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q235: the model attach must broadcast")

    // q231: pair expansion stays IN-ROW on the eager-cut basket frame
    // — no cartesian, no windows
    val q231 = exec("q231_item_cosine")
    assert(windows(q231).isEmpty, "q231 must stay window-free")
    noCartesian("q231_item_cosine", q231)
    assert(helper.collect(q231.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "q231: marginal attaches are equi joins")

    // q232: the ONE deliberately-bounded quadratic — the sample²
    // loop join plus the three 1-row report attaches; the corpus
    // side stays bucketed (no cartesian anywhere)
    val q232 = exec("q232_banding_eval")
    noCartesian("q232_banding_eval", q232)
    assert(helper.collect(q232.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 4, "q232: only the sample loop + 1-row report attaches")

    // q228: one broadcast anchor row + one (user) combine — the only
    // loop join is the 1-row anchor attach, no windows anywhere
    val q228 = exec("q228_decay_score")
    assert(windows(q228).isEmpty, "q228 must stay window-free")
    noCartesian("q228_decay_score", q228)
    assert(helper.collect(q228.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q228: only the 1-row anchor attach may loop")

    // q229: trailing count, per-user total, and the argmax all ride
    // the ONE (user) exchange
    val q229 = exec("q229_burst_audit")
    assert(scans(q229).size == 1, s"q229: one scan, got ${scans(q229).size}")
    assert(windows(q229).nonEmpty &&
      windows(q229).forall(_.partitionSpec.exists(_.toString.contains("user_id"))),
      "q229: every window must ride the user key")
    assert(shuffles(q229).size == 1,
      s"q229: one user exchange, got ${shuffles(q229).size}")

    // q230: trend/detrend ride the series keys behind the eager cut;
    // phase effects and residuals attach back as broadcasts
    val q230 = exec("q230_seasonal_decompose")
    assert(scans(q230).isEmpty,
      s"q230: frame must be cut at the checkpoint, got ${scans(q230).size}")
    assert(windows(q230).isEmpty,
      "q230: the trend window stays behind the cut")
    assert(helper.collect(q230.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.size >= 2, "q230: phase and residual attaches must broadcast")

    // q226: ONE as-of sort-merge pass on the user exchange — never a
    // windowed/range self-join of the event table
    val q226 = exec("q226_paired_uplift")
    noCartesian("q226_paired_uplift", q226)
    assert(helper.collect(q226.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "q226: the as-of match must stay an equi-keyed pass")

    // q227: one corpus scan to the ≤10-row bin table; windows ride
    // the bin table only
    val q227 = exec("q227_ece")
    assert(scans(q227).size == 1, s"q227: one scan, got ${scans(q227).size}")
    assert(windows(q227).size <= 2, "q227: bin-table windows only")
    noCartesian("q227_ece", q227)

    // q222: everything above the eager-cut degree histogram is
    // aggregate-only; the single loop join is the 1-row fit attach
    val q222 = exec("q222_degree_powerlaw")
    assert(windows(q222).isEmpty, "q222 must stay window-free")
    noCartesian("q222_degree_powerlaw", q222)
    assert(helper.collect(q222.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.size <= 1, "q222: only the 1-row fit attach may loop")

    // q223: the keeper pick is an O(1)-state combine on the comp key,
    // never a member-ranked window; no loop joins anywhere
    val q223 = exec("q223_canonical_pick")
    assert(windows(q223).isEmpty,
      "q223: keeper pick must stay an aggregate, not a window")
    noCartesian("q223_canonical_pick", q223)

    val q220 = exec("q220_cohort_ltv")
    assert(scans(q220).isEmpty,
      s"q220: corpus must be cut at the frame checkpoint, got ${scans(q220).size}")
    assert(helper.collect(q220.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, "q220: the cohort-size attach must broadcast")
    assert(windows(q220).size == 1 &&
      windows(q220).head.partitionSpec.exists(_.toString.contains("cohort_week")),
      "q220: exactly the cohort-partitioned cumulative window")
  }

  test("round-9 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def noCartesian(q: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      assert(helper.collect(qe.executedPlan) {
        case j: CartesianProductExec => j
      }.isEmpty, s"$q must not build a cartesian product")

    // q269: hash-only exchanges (the window md5 is computed doc-locally
    // before any shuffle), every window partitions on doc_id, and the
    // whole chain is scan-spread + hash-agg + join-back + doc windows —
    // never more than 5 exchanges, no pair blowup
    val q269 = exec("q269_exact_spans")
    noCartesian("q269_exact_spans", q269)
    assert(shuffles(q269).size <= 5,
      s"q269: expected <=5 exchanges, got ${shuffles(q269).size}")
    val partitionless = q269.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(partitionless.isEmpty, "q269 windows must partition on doc_id")

    // q270: training runs as its own vocabulary-sized jobs inside the
    // query builder; the RETURNED encode plan is a pure per-row
    // projection — zero shuffles, no window, no join
    val q270 = exec("q270_bpe_encode")
    noCartesian("q270_bpe_encode", q270)
    q270.executedPlan // force planning
    assert(shuffles(q270).isEmpty,
      "q270 encode must be a shuffle-free projection")
    assert(q270.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "q270 encode must not join or window")
  }

  test("z-order write path: real parquet files prune on a 2-D range read (sf0.1)") {
    import graft.operators.Layout
    import org.apache.spark.sql.execution.FileSourceScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // real data, real files: events sf0.1 written twice — arrival order
    // (append-only ingest) vs z-ordered on (user_id, day) — then read
    // back through the normal parquet scan with a 2-D box predicate.
    // The claim I22/I11 simulate must hold on disk: footer min/max
    // stats let the z-ordered layout skip most row groups.
    val ev = Tables(spark, "/root/testdata/sf0.1").events
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val base = graft.Scratch.dir("zorder-it")
    ev.repartitionByRange(32, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(s"$base/arrival")
    val bits = 16 // user_id < 2^16 and epoch-day < 2^16 both hold
    ev.withColumn("__z", Layout.zValue(col("user_id"), col("day"), bits))
      .repartitionByRange(32, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(s"$base/zorder")
    def scan(path: String, pred: org.apache.spark.sql.Column): (Long, Long, String) = {
      val df = spark.read.parquet(path).filter(pred)
      val matched = df.collect().length.toLong
      val s = helper.collect(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }.head
      (matched, s.metrics("numOutputRows").value, s.metadata("PushedFilters"))
    }
    // THE query arrival order cannot prune: a user range with no time
    // bound (arrival files are time runs, every one holds all users)
    val userBox = col("user_id") >= 100 && col("user_id") <= 299
    val (na, rowsArrival, pushedA) = scan(s"$base/arrival", userBox)
    val (nz, rowsZ, pushedZ) = scan(s"$base/zorder", userBox)
    // identical result set size either way
    assert(na == nz && na > 0, s"layouts must agree: $na vs $nz")
    // the predicate must actually reach the parquet reader
    assert(pushedA.contains("GreaterThanOrEqual(user_id") &&
      pushedZ.contains("GreaterThanOrEqual(user_id"), s"pushdown lost: $pushedZ")
    // arrival reads essentially the whole corpus; z-order's footer
    // stats must skip at least half of it on the user dimension alone
    assert(rowsArrival > 90000L,
      s"arrival layout should be unprunable on user_id: $rowsArrival")
    assert(rowsZ * 2 < rowsArrival,
      s"z-order must halve the scanned rows: z=$rowsZ arrival=$rowsArrival")
    // and a 2-D box must never scan MORE than the best 1-D layout:
    // arrival prunes it on day (time-run files), z-order on both dims
    val r = ev.agg(min("day"), max("day")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val box2d = userBox &&
      col("day") >= lo + (hi - lo) / 3 && col("day") <= lo + (hi - lo) / 2
    val (na2, rows2dArrival, _) = scan(s"$base/arrival", box2d)
    val (nz2, rows2dZ, _) = scan(s"$base/zorder", box2d)
    assert(na2 == nz2, s"2-D layouts must agree: $na2 vs $nz2")
    assert(rows2dZ <= rows2dArrival,
      s"2-D box: z=$rows2dZ must not scan more than arrival=$rows2dArrival")
  }

  test("round-9 batch-2 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def noCartesian(q: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      assert(helper.collect(qe.executedPlan) {
        case j: CartesianProductExec => j
      }.isEmpty, s"$q must not build a cartesian product")
    def partitionlessWindows(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }

    // q274: the term probe must be a BROADCAST join — the corpus word
    // stream is never shuffled on text
    val q274 = exec("q274_blocklist")
    noCartesian("q274_blocklist", q274)
    assert(helper.collect(q274.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }.nonEmpty, "q274: term probe must broadcast")

    // q276: frame pair expansion is posting-list bounded (no cartesian)
    // and every window partitions (pair or doc grain)
    val q276 = exec("q276_video_neardup")
    noCartesian("q276_video_neardup", q276)
    assert(partitionlessWindows(q276).isEmpty,
      "q276: windows must partition on pair/doc")

    // q279: the lateness running max partitions on event_type
    val q279 = exec("q279_lateness")
    assert(partitionlessWindows(q279).isEmpty,
      "q279: running max must partition on event_type")

    // q275: one corpus combine to day grain; everything after rides
    // dim-sized day windows — bounded exchange count
    val q275 = exec("q275_msprt")
    noCartesian("q275_msprt", q275)
    assert(shuffles(q275).size <= 4,
      s"q275: day-grain combine + dim windows only, got ${shuffles(q275).size}")

    // q281: split is a projection; pairs reuse the G2 shapes
    noCartesian("q281_neardup_leakage", exec("q281_neardup_leakage"))
  }

  test("round-9 batch-3 operator plans honor their scale claims") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exec(q: String) =
      SparkEntry.queries(q)(spark, sfDir).queryExecution
    def shuffles(qe: org.apache.spark.sql.execution.QueryExecution) =
      helper.collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    def noCartesian(q: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      assert(helper.collect(qe.executedPlan) {
        case j: CartesianProductExec => j
      }.isEmpty, s"$q must not build a cartesian product")

    // q272: the Holt recursion folds IN-ROW over the collected series
    // — one day-grain combine then one keys combine, no window, no join
    val q272 = exec("q272_holt_backtest")
    noCartesian("q272_holt_backtest", q272)
    assert(q272.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "q272 must stay window- and join-free")
    assert(shuffles(q272).size <= 2,
      s"q272: two combines only, got ${shuffles(q272).size}")

    // q283: spans attach id-keyed, the cut is in-row — windows only at
    // doc grain, no cartesian
    val q283 = exec("q283_exact_cut")
    noCartesian("q283_exact_cut", q283)
    assert(q283.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.isEmpty, "q283 windows must partition on doc_id")

    // q285: bucket-keyed candidate generation, never a cartesian
    noCartesian("q285_incremental_pairs", exec("q285_incremental_pairs"))

    // q286: one key combine + a one-row broadcast back — <= 2 exchanges
    val q286 = exec("q286_eb_shrink")
    noCartesian("q286_eb_shrink", q286)
    assert(shuffles(q286).size <= 2,
      s"q286: key combine + moment rollup only, got ${shuffles(q286).size}")
  }

  test("round-10: q174/q167 windows consume value-grain aggregates, never data rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Window => LWindow}
    // a window is value-grain when its input chain (through projections
    // and filters) bottoms out in the distinct-value Aggregate — a
    // low-cardinality partition key over RAW rows means one task sorts
    // one key's entire 100 TB history (the r9 q174 scale-killer)
    def aggInput(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case pr: Project => aggInput(pr.child)
      case f: Filter => aggInput(f.child)
      case w: LWindow => aggInput(w.child)
      case _ => false
    }

    // q167: BOTH windows (cumulative count, per-source total) ride the
    // distinct (source, n_chars) aggregate; docs join back afterwards
    val q167 = SparkEntry.queries("q167_percent_rank")(spark, sfDir)
      .queryExecution.optimizedPlan
    val w167 = q167.collect { case w: LWindow => w }
    assert(w167.nonEmpty, "q167 expects windows")
    assert(w167.forall(w => aggInput(w.child)),
      s"q167: every window must consume the distinct-value aggregate:\n$q167")

    // q174: the global cumulative windows are value-grain; the ONE
    // row-grain window allowed is the tie refinement, and it must sit
    // above the wq_value crossing-value join (it sees only the ties of
    // the one crossing value per key, not the corpus)
    val q174 = SparkEntry.queries("q174_weighted_median")(spark, sfDir)
      .queryExecution.optimizedPlan
    val w174 = q174.collect { case w: LWindow => w }
    assert(w174.nonEmpty, "q174 expects windows")
    val rowGrain = w174.filterNot(w => aggInput(w.child))
    assert(rowGrain.size <= 1,
      s"q174: only the tie refinement may window over rows:\n$q174")
    rowGrain.foreach { w =>
      assert(w.child.collect { case j: Join => j }.nonEmpty &&
        w.child.toString.contains("wq_value"),
        s"q174: the row-grain window must be restricted to the crossing " +
          s"value's ties via the wq_value join:\n${w.child}")
    }
  }

  test("round-10: rank-family value-grain cap fails loudly, costs no extra window") {
    import graft.operators.Rollups
    val t = Tables(spark, sfDir)
    // the guard's row_number stacks under the cumulative window on the
    // SAME single-partition sort — WindowExec preserves distribution
    // and ordering, so the guarded plan still has exactly one sort
    val ks = Rollups.ksTest(t.events, "event_type", "value", "click", "view")
    ks.collect()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val sorts = helper.collect(ks.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.size == 1, s"guard must reuse the cumulative window's sort, got ${sorts.size}")

    // over-cap distinct grain → loud failure naming the operator
    sys.props("graft.valueGrainCap") = "10"
    try {
      for ((name, mk) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "ksTest" -> (() => Rollups.ksTest(t.events, "event_type", "value", "click", "view")),
        "mannWhitney" -> (() => Rollups.mannWhitney(t.events, "event_type", "value", "click", "view")),
        "cliffsDelta" -> (() => Rollups.cliffsDelta(t.events, "event_type", "value", "click", "view")),
        "logRank" -> (() => graft.operators.EventWindows.logRank(
          t.events.selectExpr("event_type AS arm",
            "CAST(round(value * 100) AS LONG) AS duration",
            "CAST(1 AS LONG) AS event"),
          "arm", "click", "view")),
        "rocAuc" -> (() => Rollups.rocAuc(t.events, "event_type", "value", "click", "view")),
        "giniConcentration" -> (() => Rollups.giniConcentration(t.documents, "n_chars")),
        // r11 carried item 3: the guard extends to the remaining
        // global/per-group rank windows with documented bounds
        "bhAdjust" -> (() => Rollups.bhAdjust(
          spark.range(50).selectExpr("id / 100.0 AS p", "id AS k").toDF(),
          "p", Seq("k"))),
        "zipfFit" -> (() => graft.operators.TextAnalysis.zipfFit(
          t.documents, "source", "text")))) {
        val ex = intercept[Exception] { mk().collect() }
        def msgs(e: Throwable): String =
          if (e == null) "" else e.getMessage + "|" + msgs(e.getCause)
        assert(msgs(ex).contains("ValueGrainCap"),
          s"$name must fail loudly past the cap, got: ${msgs(ex).take(300)}")
      }
      // vocabBuild's bound is its vocabSize parameter — the guard is a
      // loud driver-side refusal, before any job runs
      val vb = intercept[IllegalArgumentException] {
        graft.operators.TextAnalysis.vocabBuild(t.documents, vocabSize = 11)
      }
      assert(vb.getMessage.contains("ValueGrainCap"))
    } finally sys.props.remove("graft.valueGrainCap")
  }

  test("round-12: new stats operators keep their plan shapes") {
    import graft.operators.Rollups
    val t = tables
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // q292: the grain guard's row_number, the peer-count frame, and
    // the cumulative frame share (partition, order) — ONE WindowExec,
    // ONE SortExec (the q192 contract extended to the k-group test)
    val kw = Rollups.kruskalWallis(t.events, "event_type", "value")
    kw.collect()
    val kwSorts = helper.collect(kw.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(kwSorts.size == 1,
      s"kruskalWallis: guard + both RANGE frames must ride one sort, got ${kwSorts.size}")
    // q291: the day-pair expansion is a broadcast nested-loop over the
    // calendar-bounded dense spine — never a shuffled join of the
    // pair table, never an unbroadcast cartesian
    val kt = Rollups.kendallTau(t.events, "view", "purchase")
    kt.collect()
    val ktPlan = kt.queryExecution.executedPlan
    assert(helper.collect(ktPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.nonEmpty, "kendallTau: day<day pair join must broadcast")
    assert(helper.collect(ktPlan) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "kendallTau: no unbroadcast cartesian")
  }

  test("round-13: new operator plans honor their scale claims") {
    import graft.operators.{Rollups, TextAnalysis}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val t = tables
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // q319 Page–Hinkley: all four running frames + the full-frame
    // total share ONE (keys) exchange and ONE sort — the q139 CUSUM
    // window contract
    val ph = Rollups.pageHinkley(
      t.events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n")), Seq("event_type"), "day", "n")
    ph.collect()
    assert(helper.collect(ph.queryExecution.executedPlan) {
      case s: SortExec => s
    }.size == 1, "pageHinkley: one sort for every running frame")
    // q320 perplexity buckets: NO doc-grain window — the only
    // WindowExec consumes the (lang, value)-grain histogram — and the
    // tercile cuts come back via broadcast, never a shuffled join
    val ppl = TextAnalysis.perplexityBuckets(t.documents)
    ppl.collect()
    val pplPlan = ppl.queryExecution.executedPlan
    val pplWins = helper.collect(pplPlan) { case w: WindowExec => w }
    assert(pplWins.nonEmpty && pplWins.forall(
      _.child.output.exists(_.name == "__c")),
      "pplBuckets: every window must consume the (lang, value)-grain " +
        s"histogram (__c), got ${pplWins.map(_.child.output.map(_.name))}")
    assert(helper.collect(pplPlan) { case b: BroadcastHashJoinExec => b }
      .size >= 2, "pplBuckets: lang totals AND tercile cuts must broadcast")
    // q321 Croston: the interval lag window and the fold's collect
    // ride ONE (keys) exchange
    val cr = Rollups.croston(
      t.events.groupBy(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y")), Seq("user_id"), "day", "y")
    cr.collect()
    val crShuffles = helper.collect(cr.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(crShuffles.size <= 2,
      s"croston: daily combine + one (keys) exchange, got ${crShuffles.size}")
    // q330 Jonckheere–Terpstra: the G CDF frames + the grain guard
    // share one value-grain sort; the totals attach by broadcast
    val jt = Rollups.jonckheereTerpstra(t.orders, "o_orderpriority",
      "o_totalprice", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
    jt.collect()
    val jtPlan = jt.queryExecution.executedPlan
    assert(helper.collect(jtPlan) { case s: SortExec => s }.size == 1,
      "jonckheere: all five CDFs + guard on one sort")
    assert(helper.collect(jtPlan) { case c: CartesianProductExec => c }.isEmpty,
      "jonckheere: the one-row totals cross must broadcast")
    // q329 periodogram: phase grain only — no data-grain window, no
    // cartesian; the centering window consumes the ≤Σp-row phase frame
    val pg = Rollups.periodogram(t.events, Seq("event_type"), "ts")
    pg.collect()
    val pgPlan = pg.queryExecution.executedPlan
    assert(helper.collect(pgPlan) { case c: CartesianProductExec => c }.isEmpty,
      "periodogram: no cartesian")
    assert(helper.collect(pgPlan) { case e: ShuffleExchangeLike => e }.size <= 3,
      "periodogram: daily combine, phase combine, final reduce — no more")
  }

  test("round-14: quantile-sketch family plans honor their scale claims") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // q333 bottom-k sample: the ranked window lives ONLY in the
    // oracle — the engine side is two bounded map-side-combined
    // aggregates (fine grain, then explode + coarse), never a
    // per-group sort of the data
    val qs = SparkEntry.queries("q333_quantile_sample")(spark, sfDir)
    qs.collect()
    val qsPlan = qs.queryExecution.executedPlan
    assert(helper.collect(qsPlan) { case w: WindowExec => w }.isEmpty,
      "quantile sample: no data-grain window — the sketch IS the rank filter")
    assert(helper.collect(qsPlan) { case e: ShuffleExchangeLike => e }.size <= 2,
      "quantile sample: fine combine + coarse combine, no more")
    // q334 KLL: fine states → merged summaries; the verification pass
    // joins the ≤ groups·φ estimate rows back by BROADCAST (the data
    // side never reshuffles for it)
    val kll = SparkEntry.queries("q334_kll_rollup")(spark, sfDir)
    kll.collect()
    val kllPlan = kll.queryExecution.executedPlan
    assert(helper.collect(kllPlan) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "kll rollup: estimates must broadcast onto the verification scan")
    assert(helper.collect(kllPlan) { case c: CartesianProductExec => c }.isEmpty,
      "kll rollup: no cartesian")
    assert(helper.collect(kllPlan) { case w: WindowExec => w }.isEmpty,
      "kll rollup: no window anywhere — summaries and one conditional count")
    // q335 trained langid: the model attaches by BROADCAST (map-only
    // scoring — the data side never reshuffles for the model) and no
    // window except the final ≤langs²-row confusion share
    val lid = SparkEntry.queries("q335_langid_trained")(spark, sfDir)
    lid.collect()
    val lidPlan = lid.queryExecution.executedPlan
    assert(helper.collect(lidPlan) { case b: BroadcastHashJoinExec => b }
      .size >= 1, "langid: the trigram model must broadcast onto scoring")
    assert(helper.collect(lidPlan) { case c: CartesianProductExec => c }.isEmpty,
      "langid: dims attach as broadcast nest-loops, never cartesians")
    // q336 heavy hitters: the top-3 window consumes the (source, word)
    // VOCABULARY-grain count table, never document rows
    val hh = SparkEntry.queries("q336_heavy_hitters")(spark, sfDir)
    hh.collect()
    val hhPlan = hh.queryExecution.executedPlan
    val hhWins = helper.collect(hhPlan) { case w: WindowExec => w }
    assert(hhWins.forall(_.child.output.exists(_.name == "n_true")),
      "heavy hitters: any window must consume the vocab-grain count table, " +
        s"got ${hhWins.map(_.child.output.map(_.name))}")
    assert(helper.collect(hhPlan) { case c: CartesianProductExec => c }.isEmpty,
      "heavy hitters: no cartesian")
  }

  test("round-16: new operator plans honor their scale claims") {
    import graft.operators.{Layout, Rollups, SimilaritySearch}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val t = tables
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // q389 sign ANN: the query side BROADCASTS against one corpus
    // scan — the corpus itself never reshuffles for the search; both
    // cuts are windows over the pair frame, no cartesian
    val sg = SimilaritySearch.signTopK(
      t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    sg.collect()
    val sgPlan = sg.queryExecution.executedPlan
    assert(helper.collect(sgPlan) { case c: CartesianProductExec => c }.isEmpty,
      "sign ANN: the query side must broadcast (nest-loop), never cartesian")
    assert(helper.collect(sgPlan) { case w: WindowExec => w }.size == 2,
      "sign ANN: exactly the Hamming shortlist window and the re-rank window")
    // q397 AD2: the F25 contract — every CDF frame + the grain guard
    // share ONE value-grain sort; totals attach by broadcast
    val ad = Rollups.ad2Test(t.events, "event_type", "value", "click", "view")
    ad.collect()
    val adPlan = ad.queryExecution.executedPlan
    assert(helper.collect(adPlan) { case s: SortExec => s }.size == 1,
      "ad2: one value-grain sort for the CDFs and the guard")
    assert(helper.collect(adPlan) { case c: CartesianProductExec => c }.isEmpty,
      "ad2: the one-row totals cross must broadcast")
    // q398 squared ranks: the (u, g) collapse is checkpointed (it
    // feeds the rank window and the tie grain), so the FINAL plan is
    // the F63 shape exactly — one pooled value-grain sort, no
    // cartesian (the medians broadcast inside the checkpointed stage)
    val sq = Rollups.squaredRanks(t.events, "event_type", "value")
    sq.collect()
    val sqPlan = sq.queryExecution.executedPlan
    assert(helper.collect(sqPlan) { case s: SortExec => s }.size == 1,
      "squaredRanks: one pooled value-grain sort for ranks and guard")
    assert(helper.collect(sqPlan) { case c: CartesianProductExec => c }.isEmpty,
      "squaredRanks: no cartesian")
    // q384 KPSS: key totals broadcast back; the partial-sum window
    // rides the per-key exchange — no cartesian, bounded shuffles
    val daily = t.events.groupBy(col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val kp = Rollups.kpss(daily, Seq("event_type"), "day", "cnt")
    kp.collect()
    val kpPlan = kp.queryExecution.executedPlan
    assert(helper.collect(kpPlan) { case c: CartesianProductExec => c }.isEmpty,
      "kpss: no cartesian")
    assert(helper.collect(kpPlan) { case e: ShuffleExchangeLike => e }.size <= 4,
      "kpss: daily combine, totals, one (keys) window exchange — no more")
    // q400 bloom skip: ONE corpus scan builds the file summaries; the
    // probe sweep is a broadcast nest-loop against the FILE-grain
    // frame, never a cartesian
    val bs = Layout.bloomSkipReport(t.events, "event_id", "user_id",
      rowsPerFile = 50, probeEvery = 7)
    bs.collect()
    val bsPlan = bs.queryExecution.executedPlan
    assert(helper.collect(bsPlan) { case c: CartesianProductExec => c }.isEmpty,
      "bloom skip: the probe sweep must broadcast")
    assert(helper.collect(bsPlan) { case w: WindowExec => w }.isEmpty,
      "bloom skip: aggregates only — no window anywhere")
    // q404 conformal: calibration totals AND q-hat attach by
    // broadcast; the order-statistic window consumes the (g, score)
    // value-grain table, never event rows
    val cf = Rollups.conformalCalibration(t.events, "event_type", "value",
      "event_id")
    cf.collect()
    val cfPlan = cf.queryExecution.executedPlan
    assert(helper.collect(cfPlan) { case b: BroadcastHashJoinExec => b }
      .size >= 2, "conformal: totals and q-hat must broadcast")
    val cfWins = helper.collect(cfPlan) { case w: WindowExec => w }
    assert(cfWins.forall(_.child.output.exists(_.name == "__n")),
      "conformal: the rank window must consume the value-grain score " +
        s"table, got ${cfWins.map(_.child.output.map(_.name))}")
  }
}
