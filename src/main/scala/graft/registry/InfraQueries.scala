package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — infrastructure: IO, layout, sketches, incremental/CDC,
  * profiling (SURVEY.md family I).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object InfraQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q333_quantile_sample" -> ((s, dir) => {
      // I33 merge-order-INVARIANT mergeable quantile sample with
      // stored-state rollup: bottom-k (hash, value) pairs per fine
      // grain (returnflag, linestatus) — a pure set function, so
      // explode + re-aggregate to returnflag equals sketching the
      // union bit-for-bit (spec-pinned), and the oracle replays it
      // with one ranked window. Needs no value range up front (I20's
      // gap) and no merge-tree luck (KLL's gap). O(k) state per
      // group, map-side combined.
      val t = Tables(s, dir)
      import graft.functions.BottomKSample._
      val rows = t.lineitem.select(
        col("l_returnflag"), col("l_linestatus"),
        bottomKHash(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))).as("h"),
        col("l_extendedprice").as("v"))
      val fine = rows.groupBy("l_returnflag", "l_linestatus")
        .agg(bottomKSample(col("h"), col("v"), 256).as("sample"))
      fine
        .select(col("l_returnflag"), explode(col("sample")).as("x"))
        .groupBy("l_returnflag")
        .agg(bottomKSample(col("x.h"), col("x.v"), 256).as("sample"))
        .select(col("l_returnflag"),
          size(col("sample")).cast("long").as("m"),
          sampleQuantile(col("sample"), 0.25).as("p25"),
          sampleQuantile(col("sample"), 0.5).as("p50"),
          sampleQuantile(col("sample"), 0.9).as("p90"))
    }),
    "q348_fd_audit" -> ((s, dir) => {
      // I36 approximate-FD audit over a fixed candidate list: key
      // columns must determine (o_orderkey→o_custkey), denormalized
      // attributes usually don't (o_custkey→o_orderpriority) — the
      // exact distinct-count profile that prices join/partition keys
      val t = Tables(s, dir)
      Profile.fdAudit(t.orders, Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority"))
        .unionByName(Profile.fdAudit(t.lineitem, Seq(
          "l_orderkey" -> "l_returnflag",
          "l_partkey" -> "l_suppkey",
          "l_suppkey" -> "l_returnflag")))
    }),
    "q334_kll_rollup" -> ((s, dir) => {
      // I34 KLL quantile summary with stored-state rollup (kll_state
      // at (returnflag, linestatus) grain → kll_merge/kll_quantiles to
      // returnflag): the compactor is NOT merge-order invariant, so
      // the gate is the sketch CONTRACT itself — the summary's n must
      // equal the exact count (invariant under any merge tree) and
      // every φ estimate's EXACT rank (computed by one verification
      // pass over the data) must sit within the pinned ε=0.025 of φ
      // (KllSketchSpec pins the same bound unit-level). A broken
      // compaction, merge, or weight ledger flips `ok` to false and
      // hash-mismatches.
      val t = Tables(s, dir)
      import graft.functions.KllSketch._
      val phis = Seq(0.1, 0.5, 0.9)
      val fine = t.lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(kllState(col("l_extendedprice")).as("st"))
      val rolled = fine.groupBy("l_returnflag")
        .agg(kllQuantiles(col("st"), phis).as("q"),
          kllMerge(col("st")).as("merged"))
        .select(col("l_returnflag"), kllN(col("merged")).as("n"),
          posexplode(col("q")).as(Seq("i", "est")))
        .withColumn("phi",
          element_at(typedLit(phis), col("i").cast("int") + 1))
      t.lineitem.select("l_returnflag", "l_extendedprice")
        .join(broadcast(rolled), "l_returnflag")
        .groupBy("l_returnflag", "phi", "n", "est")
        .agg(sum(when(col("l_extendedprice") <= col("est"), 1L)
          .otherwise(0L)).as("rank"),
          count(lit(1)).as("n_exact"))
        .select(col("l_returnflag"), col("phi"), col("n"),
          (col("n") === col("n_exact") &&
            abs(col("rank").cast("double") / col("n_exact") - col("phi"))
              <= 0.025).as("ok"))
    }),
    "q336_heavy_hitters" -> ((s, dir) => {
      // I35 Misra–Gries frequent-items summary with stored-state
      // rollup: the candidate-LISTING heavy-hitter member (CMS/q91
      // point-estimates any key but can't enumerate candidates
      // without a known dim). Fine (source, lang) summaries roll up
      // per source by exploding (item, est) pairs into the same
      // weighted aggregate. The gate is the summary's DETERMINISTIC
      // contract, which holds under ANY merge tree: per top-3-exact
      // word, est ≤ true and (true − est)·(k+1) ≤ n (integer exact),
      // and NO word with true·(k+1) > n may be missing (n_missed=0).
      val t = Tables(s, dir)
      import graft.functions.FreqSketch.freqSketch
      val k = 128
      val words =
        TextAnalysis.wordRows(t.documents, Seq(col("source"), col("lang")), "text", "word")
      val rolled = words
        .groupBy("source", "lang")
        .agg(freqSketch(col("word"), lit(1L), k).as("st"))
        .select(col("source"), explode(col("st")).as("x"))
        .groupBy("source")
        .agg(freqSketch(col("x.w"), col("x.c"), k).as("cand"))
        .select(col("source"), explode(col("cand")).as("c"))
        .select(col("source"), col("c.w").as("word"), col("c.c").as("est"))
      val exact = words.groupBy("source", "word")
        .agg(count(lit(1)).as("n_true"))
      val totals = words.groupBy("source").agg(count(lit(1)).as("n"))
      val checked = exact
        .join(broadcast(totals), "source")
        .join(rolled, Seq("source", "word"), "left")
      val missed = checked
        .groupBy("source")
        .agg(sum(when(col("est").isNull &&
          col("n_true") * (k + 1) > col("n"), 1L).otherwise(0L)).as("n_missed"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_true").desc, col("word"))
      checked
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .join(broadcast(missed), "source")
        .select(col("source"), col("word"), col("n_true"),
          coalesce(col("est") <= col("n_true") &&
            (col("n_true") - col("est")) * (k + 1) <= col("n"), lit(false))
            .as("est_ok"),
          col("n_missed"))
    }),
    "q101_incremental_agg" -> ((s, dir) => {
      // incremental refresh: history state (events before the split)
      // merged with the delta's state must equal aggregating the full
      // input — the oracle aggregates everything directly
      val t = Tables(s, dir)
      val split = lit("1997-07-01").cast("timestamp")
      val hist = Incremental.aggState(
        t.events.filter(col("ts") < split), Seq("event_type"), "value")
      val delta = Incremental.aggState(
        t.events.filter(col("ts") >= split), Seq("event_type"), "value")
      Incremental.finish(Incremental.merge(Seq("event_type"), hist, delta))
    }),
    "q307_scd2_apply" -> ((s, dir) => {
      // I30 incremental SCD-2 maintenance: history versions built from
      // events before the split, the rest applied as a delta batch —
      // only touched keys' open versions replay; the oracle recomputes
      // the FULL history directly, so any drift in versioning,
      // validity bounds, or pass-through hash-mismatches
      val t = Tables(s, dir)
      val split = lit("1997-07-01").cast("timestamp")
      val ev = t.events.withColumn("ts_us", unix_micros(col("ts")))
      val base = EventWindows.scd2(ev.filter(col("ts") < split),
        "user_id", "event_type", "ts_us", "event_id")
      val delta = ev.filter(col("ts") >= split)
        .select(col("user_id"), col("event_type"),
          col("ts_us"), col("event_id"))
      Incremental.scd2Apply(base, delta,
          "user_id", "event_type", "ts_us", "event_id")
        .select("user_id", "version", "value",
          "valid_from_us", "valid_to_us", "is_current")
    }),
    "q113_kmv_overlap" -> ((s, dir) => {
      // KMV theta sketches with SET OPERATIONS: per-segment k-minimum
      // 60-bit md5 hashes (bounded-state aggregate, map-side
      // combined), then audience-overlap estimates — union, Jaccard,
      // intersection — from in-row array arithmetic on the tiny
      // sketch table; exact distincts alongside for calibration
      val t = Tables(s, dir)
      Kmv.overlap(t.events, "event_type", col("user_id"), k = 64)
    }),
    "q114_delta_join" -> ((s, dir) => {
      // incremental JOIN maintenance: 5% md5-split deltas of orders
      // and lineitem; the engine computes only history⋈history state
      // plus the delta rule dA⋈B' ∪ A⋈dB (broadcast deltas, history
      // never reshuffled) — the oracle recomputes the full join, so
      // the gate pins delta-path ≡ full recompute. Revenue in exact
      // 1e-4-dollar integers so the sums are associative.
      val t = Tables(s, dir)
      val revI = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 10000).cast("long").as("rev_i")
      val o = t.orders.select("o_orderkey", "o_custkey")
      val l = t.lineitem.select(col("l_orderkey").as("o_orderkey"), revI)
      val dAc = Sampling.hashBucket(col("o_orderkey"), "dja") % 20 === 0
      val dBc = Sampling.hashBucket(col("o_orderkey"), "djb") % 20 === 0
      val (oldA, dA) = (o.filter(!dAc), o.filter(dAc))
      val (oldB, dB) = (l.filter(!dBc), l.filter(dBc))
      val histState = Incremental.aggState(
        oldA.join(oldB, "o_orderkey"), Seq("o_custkey"), "rev_i")
      val deltaState = Incremental.aggState(
        Incremental.joinDelta(oldA, dA, oldB, dB, Seq("o_orderkey")),
        Seq("o_custkey"), "rev_i")
      Incremental.merge(Seq("o_custkey"), histState, deltaState)
        .select(col("o_custkey"), col("st_n").as("n"),
          round(col("st_sum").cast("double") / 10000.0, 4).as("revenue"),
          round(col("st_min").cast("double") / 10000.0, 4).as("min_rev"),
          round(col("st_max").cast("double") / 10000.0, 4).as("max_rev"))
    }),
    "q136_cdc_apply" -> ((s, dir) => {
      // CDC changelog apply: events as an ordered upsert/delete log
      // per user ('error' = tombstone); final state = last op per key
      // via one bounded max_by aggregate (O(1) state, map-side
      // combined — never a ranked window over the log), tombstoned
      // keys dropped
      val t = Tables(s, dir)
      val log = t.events.select(
        col("user_id"),
        unix_micros(col("ts")).as("us"),
        col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        round(col("value") * 100).cast("long").as("v_i"))
      log.groupBy("user_id")
        .agg(max_by(struct(col("op"), col("v_i")), struct(col("us"), col("event_id")))
          .as("__last"))
        .filter(col("__last.op") =!= "D")
        .select(col("user_id"),
          round(col("__last.v_i").cast("double") / 100, 4).as("last_v"))
    }),
    "q150_compaction" -> ((s, dir) => {
      // compaction planning over a synthesized file listing: customers'
      // order totals as "files" within each o_orderpriority partition,
      // quotient-binned into ≈2M-cent jobs — one window exchange
      val t = Tables(s, dir)
      val files = t.orders.groupBy(col("o_orderpriority").as("part"),
          col("o_custkey").as("file"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("bytes"))
      Layout.compactionPlan(files, Seq("part"), "file", "bytes", 2000000L)
    }),
    "q143_hist_rollup" -> ((s, dir) => {
      // mergeable-histogram re-aggregation: a histogram IS the vector
      // sum of one-hot bin vectors, so fine-grain (source, lang)
      // count vectors roll up to source grain with the same
      // elementwise vector_sum that built them — any rollup path
      // equals the direct histogram, which is what the oracle bins.
      // p50/p90 then interpolate at bin grain: 32 rows per source,
      // bounded by construction, never by the data.
      val t = Tables(s, dir)
      val bins = 32
      val width = 32.0
      val bin = least(greatest(
        floor(col("n_chars").cast("double") / width), lit(0L)), lit(bins - 1L))
      val oneHot = transform(sequence(lit(0), lit(bins - 1)),
        i => when(i.cast("long") === bin, 1L).otherwise(0L))
      val rolled = t.documents
        .groupBy("source", "lang")
        .agg(graft.functions.VectorSum.vectorSum(oneHot).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_groups"),
          graft.functions.VectorSum.vectorSum(col("h")).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("bin")
      val cum = rolled
        .select(col("source"), col("n_groups"),
          posexplode(col("h")).as(Seq("bin", "cnt")))
        .filter(col("cnt") > 0)
        .withColumn("__cum", sum("cnt").over(w))
        .withColumn("__n", sum("cnt").over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")))
      import s.implicits._
      cum.join(broadcast(Seq(0.5, 0.9).toDF("p")))
        .withColumn("__t", col("p") * col("__n"))
        .filter(col("__cum") >= col("__t") &&
          (col("__cum") - col("cnt")) < col("__t"))
        .select(col("source"), col("n_groups"), col("p"),
          round((col("bin") +
            (col("__t") - (col("__cum") - col("cnt"))) / col("cnt")) * width, 4)
            .as("qest"))
    }),
    "q138_bitmap_rollup" -> ((s, dir) => {
      // exact-distinct re-aggregation: distinct counts don't add
      // across grains, but bitmaps OR — per-(event_type, day) bitset
      // files over the dense user-id domain, ORed up to event_type
      // grain for the EXACT distinct-user count (the counterpart HLL
      // rollup q135 can only approximate). OR is idempotent, so any
      // rollup path equals count(DISTINCT) — which is the oracle.
      val t = Tables(s, dir)
      t.events
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
        .groupBy("event_type", "day")
        .agg(graft.functions.BitmapSketch.bitmapState(col("user_id")).as("bm"),
          count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n_days"),
          sum("n").cast("long").as("n_events"),
          graft.functions.BitmapSketch.bitmapMergeCount(col("bm"))
            .as("u_exact"))
    }),
    "q137_cms_rollup" -> ((s, dir) => {
      // sketch-grain frequency OLAP: per-(source, lang) count-min
      // counter matrices STORED as long vectors, rolled up per source
      // by ONE elementwise vector_sum — counter addition is
      // associative, so any rollup path equals the direct source-grain
      // sketch, which is what the oracle rebuilds. Estimates for the
      // global exact top-5 words are then pure projections over the
      // broadcast merged sketches.
      val t = Tables(s, dir)
      val words =
        TextAnalysis.wordRows(t.documents, Seq(col("source"), col("lang")), "text", "word")
      val fine = words.groupBy("source", "lang")
        .agg(graft.functions.CmsSketch.cmsSketch(col("word")).as("sk"))
      val rolled = fine.groupBy("source")
        .agg(count(lit(1)).as("n_groups"),
          graft.functions.VectorSum.vectorSum(col("sk")).as("sk"))
      val top = words.groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(5)
        .select("word")
      rolled.join(broadcast(top))
        .select(col("source"), col("n_groups"), col("word"),
          graft.functions.CmsSketch.cmsEstimate(col("sk"), col("word"))
            .as("cms_n"))
    }),
    "q135_hll_rollup" -> ((s, dir) => {
      // sketch re-aggregation: per-(source, lang) HLL register files
      // STORED as bytes, rolled up per source by register merge —
      // associativity means any rollup path equals the direct
      // per-source sketch, which is what the oracle computes
      val t = Tables(s, dir)
      t.documents.groupBy("source", "lang")
        .agg(graft.functions.HllSketch.hllState(col("doc_id")).as("sk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_groups"),
          round(graft.functions.HllSketch.hllMergeEstimate(col("sk")), 4)
            .as("u_hll"))
    }),
    "q126_window_topk_rewrite" -> ((s, dir) => {
      // written as the classic windowed top-k — per-source top-3 docs
      // by a hash priority — and REWRITTEN by the RewriteWindowTopK
      // optimizer rule into the bounded-state aggregate + posexplode
      // (plan pinned: no Window survives); the oracle replays the
      // window formulation, pinning the rewrite's semantics
      val t = Tables(s, dir)
      import org.apache.spark.sql.expressions.{Window => W}
      val prio = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":wtk"))), 1, 13), 16, 10).cast("long")
      val w = W.partitionBy("source").orderBy(prio)
      t.documents.select("doc_id", "source", "lang", "n_chars")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
    }),
    "q127_profile" -> ((s, dir) => {
      // one-scan data profile of four lineitem columns: null counts,
      // exact distincts, numeric ranges — N columns, one pass
      val t = Tables(s, dir)
      Profile.numericProfile(t.lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_suppkey"))
    }),
    "q110_zorder" -> ((s, dir) => {
      // write-time Z-order layout: Morton cell per row (a z-prefix IS
      // a quadtree cell — pure projection, no global sort), per-cell
      // footer min/max stats, and pruning verdict for a query box.
      // Dimensions (quantity 1..50, day-of-year 1..366) have
      // SF-invariant ranges, so the cell grid is meaningful at every
      // scale without a normalization pre-pass.
      val t = Tables(s, dir)
      Layout.zorderStats(
        t.lineitem.select(
          col("l_quantity").cast("long").as("qty"),
          dayofyear(col("l_shipdate")).as("doy")),
        "qty", "doy", bits = 9, cellBits = 4,
        x0 = 10, x1 = 30, y0 = 90, y1 = 180)
    }),
    "q107_windowed_hll" -> ((s, dir) => {
      // approx-distinct users per tumbling hour: the HLL sketch under
      // a fixed-width epoch window (engine-portable tumbling), exact
      // count alongside
      val t = Tables(s, dir)
      t.events
        .withColumn("hour", floor(unix_micros(col("ts")) / 3600000000L).cast("long"))
        .groupBy("hour")
        .agg(
          countDistinct(col("user_id")).as("u_exact"),
          round(graft.functions.HllSketch.hllDistinct(col("user_id")), 4).as("u_hll"))
    }),
    "q92_bloom_join" -> ((s, dir) => {
      // bloom-pruned semi-join: lineitem rows are dropped scan-side by
      // a broadcast 16 KB bloom over the urgent orders' keys before
      // the exact semi-join removes false positives — result identical
      // to the plain semi-join (the oracle), shuffle volume isn't
      val t = Tables(s, dir)
      val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      BloomSemiJoin(t.lineitem, urgent, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
    }),
    "q91_cms_topk" -> ((s, dir) => {
      // heavy hitters via a native count-min sketch: one global 4x1024
      // counter matrix over every corpus word (32 KB state, map-side
      // combined), then point estimates for the exact top-20 against
      // the broadcast one-row sketch. CMS never under-counts; the
      // oracle rebuilds the identical counters from the same md5
      // bucket arithmetic.
      val t = Tables(s, dir)
      val words = TextAnalysis.wordRows(t.documents, Nil, "text", "word")
      val sk = words.agg(graft.functions.CmsSketch.cmsSketch(col("word")).as("sk"))
      val top = words.groupBy("word").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("word")).limit(20)
      top.join(broadcast(sk))
        .select(col("word"), col("exact_n"),
          graft.functions.CmsSketch.cmsEstimate(col("sk"), col("word")).as("cms_n"))
    }),
    "q73_hll_distinct" -> ((s, dir) => {
      // the native HLL sketch aggregate next to the exact counts it
      // approximates — two cardinality regimes per group (150 users →
      // linear-counting branch; thousands of event ids → raw
      // estimator at larger scale factors)
      val t = Tables(s, dir)
      // user and event distincts in SEPARATE single-distinct
      // aggregates joined at type grain: one aggregate with both
      // would Expand every event row twice (the q13 sf1 class)
      val u = t.events.groupBy("event_type").agg(
        countDistinct(col("user_id")).as("u_exact"),
        round(graft.functions.HllSketch.hllDistinct(col("user_id")), 4).as("u_hll"))
      val e = t.events.groupBy("event_type").agg(
        countDistinct(col("event_id")).as("e_exact"),
        round(graft.functions.HllSketch.hllDistinct(col("event_id")), 4).as("e_hll"))
      // null-safe equality: a NULL event_type group (a documented
      // testdata drift risk) must survive the join exactly as the
      // single-aggregate form and the oracle's GROUP BY would keep it
      u.join(e, u("event_type") <=> e("event_type"))
        .select(u("event_type"), col("u_exact"), col("u_hll"),
          col("e_exact"), col("e_hll"))
    }),
    "q66_sql_surface" -> ((s, dir) => {
      // I5: the injected SQL functions driven through spark.sql — the
      // flagship harmonic scoring written as plain SQL over the
      // evidence view. harmonic_score sorts its input internally, so
      // collect_list's nondeterministic order cannot leak.
      GraftExtensions.register(s)
      Tables(s, dir).lineitem.createOrReplaceTempView("lineitem_q66")
      s.sql(
        """SELECT CAST(l_suppkey AS BIGINT) AS diseaseId,
          |       CAST(l_partkey AS BIGINT) AS targetId,
          |       l_returnflag AS datasourceId,
          |       round(harmonic_score(
          |         collect_list(CAST(l_discount * 10 AS DOUBLE)),
          |         50, 1.6449340668482264), 4) AS score
          |FROM lineitem_q66
          |GROUP BY 1, 2, 3""".stripMargin)
    }),
    "q75_salted_agg" -> ((s, dir) => {
      // I1: two-phase salted aggregation — result identical to the
      // plain groupBy (the oracle), rows per hot key spread over 8
      // reducers. Floats round only at the combine projection.
      val t = Tables(s, dir)
      Skew.saltedAgg(t.events, Seq("event_type"), 8)(
        partial = Seq(count(lit(1)).as("c"), sum("value").as("sv"),
          sum("user_id").as("su"), max("value").as("mx")),
        combine = Seq(sum("c").cast("long").as("n"),
          round(sum("sv"), 4).as("sum_value"),
          sum("su").cast("long").as("sum_user"),
          round(max("mx"), 4).as("max_value")))
    }),
    "q76_salted_join" -> ((s, dir) => {
      // I2: salted equi-join against a replicated non-broadcast dim —
      // same rows as the plain join, one hot event_type spread over 8
      // tasks. Aggregated to a deterministic per-type summary.
      val t = Tables(s, dir)
      val dim = t.events.select(col("event_type")).distinct()
        .withColumn("weight",
          (Sampling.hashBucket(col("event_type"), "w") % 9 + 1).cast("double")
            / lit(10).cast("double"))
      Skew.saltedJoin(t.events, dim, Seq("event_type"), 8)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("value") * col("weight")), 4).as("wsum"))
    }),
    "q77_bucketed_join" -> ((s, dir) => {
      // I3: bucketed co-located fact-fact join — both sides written
      // bucketBy(8, join key) so the equi-join plans with no exchange
      // (pinned in ScaleDesignSpec); result equals the plain join.
      q77Cleanup // register the exit hook that removes these tables
      for (tb <- Seq("li_q77", "ord_q77")) {
        s.sql(s"DROP TABLE IF EXISTS $tb")
        Scratch.deleteTree(java.nio.file.Paths.get(s"spark-warehouse/$tb"))
      }
      val t = Tables(s, dir)
      Io.writeBucketed(t.lineitem.select("l_orderkey", "l_extendedprice"),
        "li_q77", "l_orderkey", 8)
      Io.writeBucketed(t.orders.select("o_orderkey", "o_custkey"),
        "ord_q77", "o_orderkey", 8)
      s.table("li_q77")
        .join(s.table("ord_q77"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum("l_extendedprice"), 4).as("rev"))
    }),
    "q78_io_roundtrip" -> ((s, dir) => {
      // I4: CSV / JSON-lines / ORC round-trips — write the events
      // projection, read it back through each adapter (explicit
      // schema, no inference pass), and summarize; any fidelity loss
      // in a format path breaks that format's row against the oracle.
      val base = Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val tmp = scratchDir("q78")
      Io.writeCsv(base, s"$tmp/csv")
      Io.writeJsonLines(base, s"$tmp/jsonl")
      Io.writeOrc(base, s"$tmp/orc")
      Seq(
          "csv" -> Io.readCsv(s, s"$tmp/csv", base.schema),
          "jsonl" -> Io.readJsonLines(s, s"$tmp/jsonl", base.schema),
          "orc" -> Io.readOrc(s, s"$tmp/orc"))
        .map { case (fmt, d) =>
          d.agg(count(lit(1)).cast("long").as("n"),
              sum("user_id").cast("long").as("sum_user"),
              round(sum("value"), 4).as("sum_value"))
            .withColumn("fmt", lit(fmt))
        }
        .reduce(_.unionByName(_))
    }),
    "q79_partition_refresh" -> ((s, dir) => {
      // I4: partitioned write → dynamic single-partition overwrite →
      // small-file compaction of the refreshed partition → read back.
      // Only src0 is rewritten (n_chars + 1000); every other partition
      // must come through untouched for the oracle to match.
      val t = Tables(s, dir)
      val tmp = scratchDir("q79") + "/docs"
      val base = t.documents.select(col("doc_id"), col("source"), col("n_chars"))
      Io.writeParquetPartitioned(base, tmp, Seq("source"))
      Io.overwritePartitions(
        base.filter(col("source") === "src0")
          .withColumn("n_chars", col("n_chars") + 1000),
        tmp, Seq("source"))
      Io.compact(s, s"$tmp/source=src0", 1)
      s.read.parquet(tmp)
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("n_chars").cast("long").as("sum_chars"))
    }),
    "q177_zone_map" -> ((s, dir) => {
      // I22 zone-map skip report: arrival vs range-clustered layouts
      // of events under value∈[150,200] — the quantified case for
      // write-time clustering; corpus scanned once, (layout, file)
      // grain shuffle only
      val t = Tables(s, dir)
      Layout.zoneMapReport(t.events, "event_id", "value",
        arrivalRowsPerFile = 500, clusterBuckets = 16, lo = 150.0, hi = 200.0)
    }),
    "q181_constraint_audit" -> ((s, dir) => {
      // I23 declarative data-contract audit of lineitem: PK
      // uniqueness, NOT NULLs, FK orphans against three dims, ranges —
      // nulls/ranges/count in ONE scan, FKs as anti-joins
      val t = Tables(s, dir)
      Profile.constraintAudit(
        t.lineitem,
        pkCols = Seq("l_orderkey", "l_linenumber"),
        notNullCols = Seq("l_shipdate", "l_quantity"),
        fks = Seq(
          ("l_orderkey", t.orders, "o_orderkey"),
          ("l_partkey", t.part, "p_partkey"),
          ("l_suppkey", t.supplier, "s_suppkey")),
        ranges = Seq(("l_quantity", 1.0, 45.0), ("l_discount", 0.0, 0.1)))
    }),
    "q185_join_blowup" -> ((s, dir) => {
      // I24 pre-flight skew forecast for a user-keyed self-join of
      // events: per-key |A|·|B| output cardinality, top-20 — the
      // diagnosis that sizes saltBuckets before the 100 TB join
      val t = Tables(s, dir)
      Skew.joinBlowupForecast(t.events, t.events, "user_id", "user_id")
    }),
    "q215_psi" -> ((s, dir) => {
      // I25 population-stability drift gate: click values binned by
      // the view distribution's published deciles
      val t = Tables(s, dir)
      Profile.psi(t.events, "event_type", "value", "view", "click")
    }),
    "q236_schema_evolution" -> ((s, dir) => {
      // I26 mergeSchema across parquet epochs: v1 lacks n_chars, v2
      // adds it; the union reads v1's missing column as null
      val t = Tables(s, dir)
      val tmp = scratchDir("q236")
      t.documents.select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      t.documents.select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      Io.readParquetMerged(s, Seq(s"$tmp/v1", s"$tmp/v2"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_missing"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
    }),
    "q237_csv_quarantine" -> ((s, dir) => {
      // I27 permissive ingest gate: deterministically corrupt every
      // 100th row's value, quarantine instead of dropping, report
      val t = Tables(s, dir)
      val tmp = scratchDir("q237")
      t.events
        .filter(col("value").isNotNull)
        .select(concat_ws(",", col("event_id"), col("user_id"),
          when(pmod(col("event_id"), lit(100)) === 0,
            concat(lit("x"), col("value").cast("string")))
            .otherwise(col("value").cast("string"))).as("value"))
        .write.mode("overwrite").text(s"$tmp/csv")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("event_id", "long").add("user_id", "long").add("value", "double")
      // the parsed `value` must appear in the output: CSV column
      // pruning would otherwise skip parsing it and never trip the
      // quarantine (malformed detection only covers parsed columns)
      Io.readCsvQuarantine(s, s"$tmp/csv", schema)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("_corrupt_record").isNull, col("user_id"))
            .otherwise(0L)).as("sum_user_good"),
          round(sum(when(col("_corrupt_record").isNull, col("value"))
            .otherwise(0d)), 4).as("sum_value_good"))
    }),
    "q400_bloom_skip" -> ((s, dir) => {
      // I40 bloom-augmented file skipping measured: point lookups on
      // the unclustered high-cardinality user_id see useless min-max
      // spans; the 248-bit per-file bloom does the skipping — per
      // probe, files touched under min-max vs min-max+bloom vs truth
      val t = Tables(s, dir)
      Layout.bloomSkipReport(t.events, "event_id", "user_id",
        rowsPerFile = 50, probeEvery = 7)
    }),
    "q391_moments_rollup" -> ((s, dir) => {
      // I39 mergeable moments state: per-(source, lang) power sums
      // [n, Σx..Σx⁴] rolled to source grain by one elementwise
      // vector_sum — the EXACT member of the store-and-merge sketch
      // family; skewness/kurtosis decide if a slice's length
      // distribution is long-tailed before any mean is trusted
      val t = Tables(s, dir)
      Profile.momentsRollup(t.documents, Seq("source", "lang"),
        Seq("source"), col("n_chars")).orderBy("source")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // Quantile-sample replay: the sketch IS the k smallest
    // (hash, value) pairs, so one ranked window per coarse group
    // rebuilds it bit-for-bit (k-smallest of the fine unions ==
    // k-smallest of the group); quantiles index the value-sorted
    // sample with the identical max(1, ceil(φ·m)) rule. Raw doubles —
    // every output value is an element of the data, so no rounding.
    // FD audit replay: one distinct-count profile per candidate,
    // UNION ALL — exact counts, null-lhs is a key, null-rhs ignored
    // by count(DISTINCT) on both engines.
    "q348_fd_audit" -> Seq(
      ("orders", "o_orderkey", "o_custkey"),
      ("orders", "o_custkey", "o_orderpriority"),
      ("lineitem", "l_orderkey", "l_returnflag"),
      ("lineitem", "l_partkey", "l_suppkey"),
      ("lineitem", "l_suppkey", "l_returnflag")).map { case (tb, l, r) =>
      s"""SELECT '$l' AS lhs, '$r' AS rhs,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(d) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_violating,
         |       sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds,
         |       round(CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 4) AS violation_share
         |FROM (SELECT $l AS lk, count(DISTINCT $r) AS d
         |      FROM $tb GROUP BY 1)""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", ""),
    "q333_quantile_sample" ->
      s"""WITH r AS (
         |  SELECT l_returnflag,
         |         ${HexValSql(
               "md5(CAST(l_orderkey AS VARCHAR) || ':' || " +
               "CAST(l_linenumber AS VARCHAR) || ':bk')", 1, 15)} AS h,
         |         l_extendedprice AS v
         |  FROM lineitem
         |),
         |ranked AS (
         |  SELECT l_returnflag, h, v,
         |         row_number() OVER (PARTITION BY l_returnflag
         |                            ORDER BY h, v) AS rn
         |  FROM r
         |),
         |agg AS (
         |  SELECT l_returnflag, list(v ORDER BY v) AS vs,
         |         CAST(count(*) AS BIGINT) AS m
         |  FROM ranked WHERE rn <= 256 GROUP BY 1
         |)
         |SELECT l_returnflag, m,
         |       vs[CAST(greatest(1, ceil(0.25 * m)) AS BIGINT)] AS p25,
         |       vs[CAST(greatest(1, ceil(0.5 * m)) AS BIGINT)] AS p50,
         |       vs[CAST(greatest(1, ceil(0.9 * m)) AS BIGINT)] AS p90
         |FROM agg""".stripMargin,
    // KLL gate: the summary's n must equal the exact group count and
    // every φ estimate must pass the ε rank check computed by the
    // engine's own verification pass — so the oracle is the exact
    // count crossed with the φ grid, all-true. A compaction/merge/
    // weight bug flips ok to false (or drifts n) and hash-mismatches.
    "q334_kll_rollup" ->
      """WITH g AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, phi, n, true AS ok
        |FROM g CROSS JOIN (
        |  SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |                 CAST(0.9 AS DOUBLE)]) AS phi)""".stripMargin,
    // Heavy-hitter gate: the Misra–Gries CONTRACT is deterministic
    // under any merge tree, so the oracle is the exact top-3 words per
    // source with all-true bound checks and zero guaranteed-misses —
    // a broken compress/merge/weight ledger flips est_ok or n_missed.
    "q336_heavy_hitters" ->
      s"""WITH ${TermCountsSql("cnt", "word", "n_true", Seq("source"))},
        |top AS (
        |  SELECT source, word, n_true,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_true DESC, word) AS rk
        |  FROM cnt
        |)
        |SELECT source, word, n_true, true AS est_ok,
        |       CAST(0 AS BIGINT) AS n_missed
        |FROM top WHERE rk <= 3""".stripMargin,
    // Incremental-agg oracle: aggregate the FULL input directly — the
    // merged history⊕delta state must land on identical numbers.
    "q101_incremental_agg" ->
      """SELECT event_type,
        |       CAST(count(value) AS BIGINT) AS n,
        |       round(sum(value), 4) AS sum_v,
        |       round(min(value), 4) AS min_v,
        |       round(max(value), 4) AS max_v,
        |       round(sum(value) / count(value), 4) AS avg_v
        |FROM events GROUP BY event_type""".stripMargin,
    // incremental SCD-2 replay: the oracle is the FULL recompute (the
    // q118 pipeline over all events) — the engine's split+apply path
    // must land on it byte-for-byte.
    "q307_scd2_apply" ->
      s"""WITH $Scd2VersionsSql
        |SELECT user_id, version, value, valid_from_us,
        |       lead(valid_from_us) OVER (PARTITION BY user_id
        |         ORDER BY version) AS valid_to_us,
        |       lead(valid_from_us) OVER (PARTITION BY user_id
        |         ORDER BY version) IS NULL AS is_current
        |FROM g""".stripMargin,
    // KMV replay: the sketch IS the k smallest hashes, so row_number
    // over the same 60-bit md5 values rebuilds it exactly; union /
    // membership flags replay the array set ops
    "q113_kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type AS seg,
         |    ${HexValSql("md5(CAST(user_id AS VARCHAR) || ':kmv')", 1, 15)} AS h
         |  FROM events
         |),
         |r AS (
         |  SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY seg) AS n_exact
         |  FROM h
         |),
         |sk AS (SELECT seg, h, n_exact FROM r WHERE rn <= 64),
         |est AS (
         |  SELECT seg, max(n_exact) AS n_exact, count(*) AS ksize,
         |         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 / (CAST(max(h) AS DOUBLE) / 1152921504606846976.0)
         |         END AS d_est
         |  FROM sk GROUP BY 1
         |),
         |pairs AS (
         |  SELECT a.seg AS seg_a, b.seg AS seg_b
         |  FROM est a JOIN est b ON a.seg < b.seg
         |),
         |uh AS (
         |  SELECT p.seg_a, p.seg_b, s.h,
         |         max(CASE WHEN s.seg = p.seg_a THEN 1 ELSE 0 END) AS in_a,
         |         max(CASE WHEN s.seg = p.seg_b THEN 1 ELSE 0 END) AS in_b
         |  FROM pairs p JOIN sk s ON s.seg IN (p.seg_a, p.seg_b)
         |  GROUP BY 1, 2, 3
         |),
         |ur AS (
         |  SELECT seg_a, seg_b, h, in_a, in_b,
         |         row_number() OVER (PARTITION BY seg_a, seg_b ORDER BY h) AS rn
         |  FROM uh
         |),
         |ue AS (
         |  SELECT seg_a, seg_b, count(*) AS ku,
         |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS inter,
         |         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 / (CAST(max(h) AS DOUBLE) / 1152921504606846976.0)
         |         END AS du
         |  FROM ur WHERE rn <= 64 GROUP BY 1, 2
         |)
         |SELECT u.seg_a, u.seg_b,
         |       CAST(ea.n_exact AS BIGINT) AS n_a,
         |       CAST(eb.n_exact AS BIGINT) AS n_b,
         |       round(ea.d_est, 4) AS est_a, round(eb.d_est, 4) AS est_b,
         |       round(u.du, 4) AS est_union,
         |       round(CAST(u.inter AS DOUBLE) / u.ku, 4) AS est_jaccard,
         |       round(CAST(u.inter AS DOUBLE) / u.ku * u.du, 4) AS est_intersect
         |FROM ue u
         |JOIN est ea ON ea.seg = u.seg_a
         |JOIN est eb ON eb.seg = u.seg_b""".stripMargin,
    "q136_cdc_apply" ->
      """WITH log AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         CAST(round(value * 100) AS BIGINT) AS v_i
        |  FROM events
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY us DESC, event_id DESC) AS rk
        |  FROM log
        |)
        |SELECT user_id, round(CAST(v_i AS DOUBLE) / 100, 4) AS last_v
        |FROM r WHERE rk = 1 AND op <> 'D'""".stripMargin,
    "q150_compaction" ->
      """WITH f AS (
        |  SELECT o_orderpriority AS part, o_custkey AS file,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS bytes
        |  FROM orders GROUP BY 1, 2
        |),
        |c AS (
        |  SELECT part, file, bytes,
        |         sum(bytes) OVER (PARTITION BY part ORDER BY bytes DESC, file
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM f
        |)
        |SELECT part, file, bytes, CAST((cum - bytes) // 2000000 AS BIGINT) AS grp
        |FROM c""".stripMargin,
    "q143_hist_rollup" ->
      """WITH b AS (
        |  SELECT source,
        |         least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 32) AS BIGINT), 0), 31) AS bin
        |  FROM documents
        |),
        |ng AS (
        |  SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS n_groups
        |  FROM documents GROUP BY 1
        |),
        |c AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM c
        |),
        |p AS (SELECT unnest([0.5, 0.9]) AS p)
        |SELECT w.source, ng.n_groups, p.p,
        |       round((w.bin + (p.p * w.n - (w.cum - w.cnt)) / w.cnt) * 32.0, 4) AS qest
        |FROM w CROSS JOIN p JOIN ng ON ng.source = w.source
        |WHERE w.cum >= p.p * w.n AND (w.cum - w.cnt) < p.p * w.n""".stripMargin,
    "q138_bitmap_rollup" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS u_exact
        |FROM events GROUP BY 1""".stripMargin,
    "q137_cms_rollup" ->
      s"""WITH wd AS (${WordRowsSql("word", Seq("source"))}),
         |top AS (
         |  SELECT word FROM (
         |    SELECT word, count(*) AS n FROM wd GROUP BY word
         |    ORDER BY n DESC, word LIMIT 5)
         |),
         |ng AS (
         |  SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS n_groups
         |  FROM documents GROUP BY 1
         |),
         |rows_i AS (SELECT unnest(range(0, 4)) AS ci),
         |bk AS (
         |  SELECT source, ci, ${HexValSql("md5(ci || ':' || word)", 1, 6)} % 1024 AS b,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM wd CROSS JOIN rows_i GROUP BY 1, 2, 3
         |),
         |tb AS (
         |  SELECT word, ci, ${HexValSql("md5(ci || ':' || word)", 1, 6)} % 1024 AS b
         |  FROM top CROSS JOIN rows_i
         |)
         |SELECT ng.source, ng.n_groups, tb.word,
         |       min(coalesce(bk.n, CAST(0 AS BIGINT))) AS cms_n
         |FROM ng CROSS JOIN tb
         |LEFT JOIN bk ON bk.source = ng.source AND bk.ci = tb.ci AND bk.b = tb.b
         |GROUP BY 1, 2, 3""".stripMargin,
    "q135_hll_rollup" ->
      s"""WITH ${HllChainSql("hs", "doc_id", "source", "source", "documents")},
         |g AS (
         |  SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS n_groups
         |  FROM documents GROUP BY 1
         |)
         |SELECT g.source, g.n_groups, round(hs.est, 4) AS u_hll
         |FROM g JOIN hs_est hs USING (source)""".stripMargin,
    "q126_window_topk_rewrite" ->
      s"""WITH r AS (
         |  SELECT doc_id, source, lang, n_chars,
         |         row_number() OVER (PARTITION BY source ORDER BY
         |           ${HexValSql("md5(CAST(doc_id AS VARCHAR) || ':wtk')", 1, 13)},
         |           doc_id) AS rank
         |  FROM documents
         |)
         |SELECT doc_id, source, lang, n_chars, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "q127_profile" ->
      """SELECT 'l_quantity' AS col,
        |       CAST(count(*) - count(l_quantity) AS BIGINT) AS n_null,
        |       CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |       round(CAST(min(l_quantity) AS DOUBLE), 4) AS min_v,
        |       round(CAST(max(l_quantity) AS DOUBLE), 4) AS max_v
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice',
        |       CAST(count(*) - count(l_extendedprice) AS BIGINT),
        |       CAST(count(DISTINCT l_extendedprice) AS BIGINT),
        |       round(CAST(min(l_extendedprice) AS DOUBLE), 4),
        |       round(CAST(max(l_extendedprice) AS DOUBLE), 4)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount',
        |       CAST(count(*) - count(l_discount) AS BIGINT),
        |       CAST(count(DISTINCT l_discount) AS BIGINT),
        |       round(CAST(min(l_discount) AS DOUBLE), 4),
        |       round(CAST(max(l_discount) AS DOUBLE), 4)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey',
        |       CAST(count(*) - count(l_suppkey) AS BIGINT),
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT),
        |       round(CAST(min(l_suppkey) AS DOUBLE), 4),
        |       round(CAST(max(l_suppkey) AS DOUBLE), 4)
        |FROM lineitem""".stripMargin,
    // the delta path must equal this full recompute — that identity
    // IS the operator contract
    "q114_delta_join" ->
      """WITH l AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS rev_i
        |  FROM lineitem
        |)
        |SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(l.rev_i) AS DOUBLE) / 10000.0, 4) AS revenue,
        |       round(CAST(min(l.rev_i) AS DOUBLE) / 10000.0, 4) AS min_rev,
        |       round(CAST(max(l.rev_i) AS DOUBLE) / 10000.0, 4) AS max_rev
        |FROM orders o JOIN l USING (o_orderkey)
        |GROUP BY 1""".stripMargin,
    // Z-order oracle: the interleave arithmetic is GENERATED from the
    // same Scala loop as the Column path (Layout.zValueSql), so the
    // two engines cannot drift; cell = top cellBits of the z-value.
    "q110_zorder" ->
      s"""WITH z AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS x,
         |         CAST(dayofyear(l_shipdate) AS BIGINT) AS y
         |  FROM lineitem
         |),
         |c AS (SELECT x, y, (${Layout.zValueSql("x", "y", 9)}) >> 14 AS cell FROM z),
         |s AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |         min(x) AS min_x, max(x) AS max_x,
         |         min(y) AS min_y, max(y) AS max_y
         |  FROM c GROUP BY 1
         |)
         |SELECT cell, n, min_x, max_x, min_y, max_y,
         |       NOT (max_x < 10 OR min_x > 30 OR max_y < 90 OR min_y > 180) AS hit
         |FROM s""".stripMargin,
    "q107_windowed_hll" ->
      s"""WITH ${HllChainSql("hw", "user_id",
            "CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000) AS BIGINT)", "hour")},
         |ex AS (
         |  SELECT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000) AS BIGINT) AS hour,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS u_exact
         |  FROM events GROUP BY 1
         |)
         |SELECT ex.hour, ex.u_exact, round(hw.est, 4) AS u_hll
         |FROM ex JOIN hw_est hw USING (hour)""".stripMargin,
    // Bloom semi-join oracle: the plain semi-join — the bloom is a
    // pre-filter with no false negatives, and the exact join removes
    // its false positives, so results must be identical.
    "q92_bloom_join" ->
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    // CMS replay: rebuild the 4x1024 counter matrix from the same
    // md5-bucket arithmetic (row i's bucket = first 6 hex nibbles of
    // md5(i ':' word) mod 1024), then min over rows at each top
    // word's buckets — identical counters, identical estimates.
    "q91_cms_topk" ->
      s"""WITH wd AS (${WordRowsSql("word")}),
         |ex AS (SELECT word, CAST(count(*) AS BIGINT) AS exact_n FROM wd GROUP BY word),
         |top AS (SELECT word, exact_n FROM ex ORDER BY exact_n DESC, word LIMIT 20),
         |rows_i AS (SELECT unnest(range(0, 4)) AS ci),
         |bk AS (
         |  SELECT ci, ${HexValSql("md5(ci || ':' || word)", 1, 6)} % 1024 AS b,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM wd CROSS JOIN rows_i GROUP BY 1, 2
         |),
         |tb AS (
         |  SELECT word, ci, ${HexValSql("md5(ci || ':' || word)", 1, 6)} % 1024 AS b
         |  FROM top CROSS JOIN rows_i
         |)
         |SELECT t.word, t.exact_n, min(bk.n) AS cms_n
         |FROM top t JOIN tb ON t.word = tb.word
         |           JOIN bk ON tb.ci = bk.ci AND tb.b = bk.b
         |GROUP BY t.word, t.exact_n""".stripMargin,
    "q73_hll_distinct" ->
      s"""WITH ${HllChainSql("hu", "user_id")},
         |${HllChainSql("he", "event_id")},
         |ex AS (
         |  SELECT event_type,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS u_exact,
         |         CAST(count(DISTINCT event_id) AS BIGINT) AS e_exact
         |  FROM events GROUP BY 1
         |)
         |SELECT ex.event_type, ex.u_exact, round(hu.est, 4) AS u_hll,
         |       ex.e_exact, round(he.est, 4) AS e_hll
         |FROM ex
         |JOIN hu_est hu ON ex.event_type IS NOT DISTINCT FROM hu.event_type
         |JOIN he_est he ON ex.event_type IS NOT DISTINCT FROM he.event_type""".stripMargin,
    "q66_sql_surface" ->
      s"""WITH $EvSql,
         |ranked AS (
         |  SELECT diseaseId, targetId, datasourceId, score,
         |         row_number() OVER (
         |           PARTITION BY diseaseId, targetId, datasourceId
         |           ORDER BY score DESC) AS rn
         |  FROM ev
         |)
         |SELECT CAST(diseaseId AS BIGINT) AS diseaseId,
         |       CAST(targetId AS BIGINT) AS targetId, datasourceId,
         |       round(sum(CASE WHEN rn <= 50 THEN score / (rn * rn) END)
         |             / 1.6449340668482264, 4) AS score
         |FROM ranked GROUP BY 1, 2, 3""".stripMargin,
    "q75_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 4) AS sum_value,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       round(max(value), 4) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "q76_salted_join" ->
      s"""WITH dim AS (
         |  SELECT event_type,
         |         CAST(${HexBucketSql("md5(event_type || ':w')")} % 9 + 1 AS DOUBLE)
         |           / CAST(10 AS DOUBLE) AS weight
         |  FROM (SELECT DISTINCT event_type FROM events)
         |)
         |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
         |       round(sum(value * weight), 4) AS wsum
         |FROM events e JOIN dim USING (event_type) GROUP BY 1""".stripMargin,
    "q77_bucketed_join" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(l_extendedprice), 4) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "q78_io_roundtrip" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(user_id) AS BIGINT) AS sum_user,
        |         round(sum(value), 4) AS sum_value
        |  FROM events
        |)
        |SELECT 'csv' AS fmt, n, sum_user, sum_value FROM a
        |UNION ALL SELECT 'jsonl', n, sum_user, sum_value FROM a
        |UNION ALL SELECT 'orc', n, sum_user, sum_value FROM a""".stripMargin,
    "q79_partition_refresh" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN source = 'src0'
        |                     THEN n_chars + 1000 ELSE n_chars END) AS BIGINT)
        |         AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // Zone-map replay: same 4dp quantile boundaries, strict b < v
    // bucket test, integral arrival division, exact min/max verdicts.
    "q177_zone_map" ->
      """WITH ev AS (
        |  SELECT event_id, value FROM events WHERE value IS NOT NULL
        |),
        |b AS (
        |  SELECT list_transform(
        |           quantile_cont(value, [0.0625, 0.125, 0.1875, 0.25,
        |             0.3125, 0.375, 0.4375, 0.5, 0.5625, 0.625, 0.6875,
        |             0.75, 0.8125, 0.875, 0.9375]),
        |           x -> round(x, 4)) AS bt
        |  FROM ev
        |),
        |tagged AS (
        |  SELECT layout, file, value FROM (
        |    SELECT 'arrival' AS layout, event_id // 500 AS file, value
        |    FROM ev
        |    UNION ALL
        |    SELECT 'clustered' AS layout,
        |           CAST(len(list_filter(bt, x -> x < value)) AS BIGINT) AS file,
        |           value
        |    FROM ev, b
        |  )
        |),
        |files AS (
        |  SELECT layout, file, CAST(count(*) AS BIGINT) AS n,
        |         min(value) AS mn, max(value) AS mx,
        |         CAST(count(CASE WHEN value >= 150.0 AND value <= 200.0
        |                         THEN 1 END) AS BIGINT) AS m
        |  FROM tagged GROUP BY 1, 2
        |)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(count(CASE WHEN NOT (mx < 150.0 OR mn > 200.0)
        |                       THEN 1 END) AS BIGINT) AS files_scanned,
        |       CAST(coalesce(sum(CASE WHEN NOT (mx < 150.0 OR mn > 200.0)
        |                              THEN n ELSE 0 END), 0) AS BIGINT)
        |         AS rows_scanned,
        |       CAST(sum(m) AS BIGINT) AS rows_matching,
        |       round(1.0 - CAST(count(CASE WHEN NOT (mx < 150.0 OR mn > 200.0)
        |                                   THEN 1 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 4) AS skip_frac
        |FROM files GROUP BY 1""".stripMargin,
    // Constraint-audit replay: plain counting SQL per constraint; the
    // constraint labels must match the operator's formatting exactly.
    "q181_constraint_audit" ->
      """SELECT 'row_count' AS "constraint",
        |       CAST(count(*) AS BIGINT) AS n_violations FROM lineitem
        |UNION ALL
        |SELECT 'not_null(l_shipdate)',
        |       CAST(count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'not_null(l_quantity)',
        |       CAST(count(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range(l_quantity in [1.0,45.0])',
        |       CAST(count(CASE WHEN l_quantity < 1.0 OR l_quantity > 45.0
        |                       THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range(l_discount in [0.0,0.1])',
        |       CAST(count(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
        |                       THEN 1 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'pk_unique(l_orderkey,l_linenumber)',
        |       CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber)
        |UNION ALL
        |SELECT 'fk(l_orderkey -> o_orderkey)', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'fk(l_partkey -> p_partkey)', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
        |UNION ALL
        |SELECT 'fk(l_suppkey -> s_suppkey)', CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)""".stripMargin,
    // Blow-up forecast replay: key-count tables joined, |A|·|B|
    // product, deterministic (out_rows DESC, key) top-20.
    "q185_join_blowup" ->
      """WITH c AS (
        |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |)
        |SELECT a.key, a.n AS n_left, b.n AS n_right,
        |       CAST(a.n * b.n AS BIGINT) AS out_rows
        |FROM c a JOIN c b USING (key)
        |ORDER BY out_rows DESC, key LIMIT 20""".stripMargin,
    // PSI replay: same 4dp-rounded reference deciles, same v > b bin
    // rule, same exact shares and 6dp contributions.
    "q215_psi" ->
      """WITH c AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |         event_type = 'view' AS is_ref
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('view', 'click')
        |),
        |b AS (
        |  SELECT list_transform(
        |           quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |           x -> round(x, 4)) AS bs
        |  FROM c WHERE is_ref
        |),
        |binned AS (
        |  SELECT CAST(list_sum(list_transform(bs,
        |           x -> CASE WHEN v > x THEN 1 ELSE 0 END)) AS BIGINT) AS bin,
        |         is_ref
        |  FROM c CROSS JOIN b
        |),
        |t AS (
        |  SELECT bin,
        |         CAST(count(*) FILTER (is_ref) AS BIGINT) AS n_ref,
        |         CAST(count(*) FILTER (NOT is_ref) AS BIGINT) AS n_cur
        |  FROM binned GROUP BY 1
        |),
        |w AS (
        |  SELECT bin, n_ref, n_cur,
        |         CAST(n_ref AS DOUBLE) / sum(n_ref) OVER () AS pr,
        |         CAST(n_cur AS DOUBLE) / sum(n_cur) OVER () AS pc
        |  FROM t
        |),
        |x AS (
        |  SELECT bin, n_ref, n_cur, pr, pc,
        |         CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
        |              ELSE round((pr - pc) * ln(pr / pc), 6) END AS contrib
        |  FROM w
        |)
        |SELECT bin, n_ref, n_cur, round(pr, 4) AS p_ref, round(pc, 4) AS p_cur,
        |       contrib, round(sum(contrib) OVER (), 4) AS psi
        |FROM x""".stripMargin,
    // Schema-evolution replay: v1 ∪ v2 from the raw table — every v1
    // row contributes a missing n_chars, every v2 row its value.
    "q236_schema_evolution" ->
      """SELECT lang, CAST(2 * count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_missing,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // Quarantine replay: the corruption rule is the spec — every
    // 100th non-null-value event's value is unparseable.
    "q237_csv_quarantine" ->
      """WITH e AS (SELECT event_id, user_id, value FROM events WHERE value IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) FILTER (event_id % 100 = 0) AS BIGINT) AS n_quarantined,
        |       CAST(sum(CASE WHEN event_id % 100 = 0 THEN 0 ELSE user_id END) AS BIGINT)
        |         AS sum_user_good,
        |       round(sum(CASE WHEN event_id % 100 = 0 THEN 0 ELSE value END), 4)
        |         AS sum_value_good
        |FROM e""".stripMargin,
    // Bloom-skip replay: md5-nibble bit mod 248, four 62-bit words
    // (DuckDB raises on 1<<63), same probe sweep and containment.
    "q400_bloom_skip" -> {
      def hx(e: String) = HexValSql(s"md5(CAST($e AS VARCHAR) || ':bloom')", 1, 6)
      val words = (0 to 3).map { w =>
        s"""CAST(bit_or(CASE WHEN b // 62 = $w
           |   THEN (CAST(1 AS BIGINT) << CAST(b % 62 AS INT))
           |   ELSE 0 END) AS BIGINT) AS bm$w""".stripMargin
      }.mkString(",\n         ")
      val blCase = (0 to 3).map { w =>
        s"WHEN p.pbit // 62 = $w THEN " +
          s"(f.bm$w & (CAST(1 AS BIGINT) << CAST(p.pbit % 62 AS INT))) != 0"
      }.mkString("CASE ", " ", " END")
      s"""WITH r AS MATERIALIZED (
         |  SELECT event_id // 50 AS file, user_id AS k
         |  FROM events WHERE user_id IS NOT NULL
         |),
         |fb AS (
         |  SELECT file, k, ${hx("k")} % 248 AS b
         |  FROM r
         |),
         |fl AS MATERIALIZED (
         |  SELECT file, CAST(min(k) AS BIGINT) AS mn, CAST(max(k) AS BIGINT) AS mx,
         |         $words
         |  FROM fb GROUP BY 1
         |),
         |mk AS (SELECT CAST(max(user_id) AS BIGINT) AS mxk FROM events),
         |pr AS (SELECT unnest(range(0, mxk + 1, 7)) AS probe FROM mk),
         |pb AS MATERIALIZED (
         |  SELECT probe, ${hx("probe")} % 248 AS pbit FROM pr
         |),
         |ac AS (
         |  SELECT k AS probe, CAST(count(DISTINCT file) AS BIGINT) AS files_actual
         |  FROM r WHERE k % 7 = 0 GROUP BY 1
         |),
         |cx AS (
         |  SELECT p.probe,
         |         (p.probe >= f.mn AND p.probe <= f.mx) AS mm,
         |         ((p.probe >= f.mn AND p.probe <= f.mx) AND ($blCase)) AS bl
         |  FROM fl f CROSS JOIN pb p
         |),
         |ag AS (
         |  SELECT probe, CAST(count(*) AS BIGINT) AS files_total,
         |         CAST(count(*) FILTER (mm) AS BIGINT) AS files_minmax,
         |         CAST(count(*) FILTER (bl) AS BIGINT) AS files_bloom
         |  FROM cx GROUP BY 1
         |)
         |SELECT ag.probe, ag.files_total, ag.files_minmax, ag.files_bloom,
         |       coalesce(ac.files_actual, 0) AS files_actual,
         |       ag.files_bloom - coalesce(ac.files_actual, 0) AS bloom_fp
         |FROM ag LEFT JOIN ac USING (probe)
         |ORDER BY probe""".stripMargin
    },
    // Moments replay: direct source-grain power sums in HUGEINT (the
    // rollup path equals this exactly — that is the operator's
    // claim), multiply-through central-moment numerators, the same
    // written-order double expressions.
    "q391_moments_rollup" ->
      """WITH f AS (
        |  SELECT source, lang, CAST(count(*) AS HUGEINT) AS c0,
        |         CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS c1,
        |         CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS c2,
        |         CAST(sum(CAST(n_chars AS HUGEINT) * n_chars * n_chars)
        |           AS HUGEINT) AS c3,
        |         CAST(sum(CAST(n_chars AS HUGEINT) * n_chars * n_chars * n_chars)
        |           AS HUGEINT) AS c4
        |  FROM documents GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(c0) AS HUGEINT) AS c0, CAST(sum(c1) AS HUGEINT) AS c1,
        |         CAST(sum(c2) AS HUGEINT) AS c2, CAST(sum(c3) AS HUGEINT) AS c3,
        |         CAST(sum(c4) AS HUGEINT) AS c4
        |  FROM f GROUP BY 1
        |),
        |m AS (
        |  SELECT source, n_groups, c0, c1,
        |         c0 * c2 - c1 * c1 AS n2,
        |         c0 * c0 * c3 - 3 * c0 * c1 * c2 + 2 * c1 * c1 * c1 AS n3,
        |         c0 * c0 * c0 * c4 - 4 * c0 * c0 * c3 * c1
        |           + 6 * c0 * c1 * c1 * c2 - 3 * c1 * c1 * c1 * c1 AS n4,
        |         CAST(c0 AS DOUBLE) AS dn
        |  FROM r
        |),
        |mm AS (
        |  SELECT source, n_groups, c0, c1, dn,
        |         CAST(n2 AS DOUBLE) / (dn * dn) AS m2,
        |         CAST(n3 AS DOUBLE) / (dn * dn * dn) AS m3,
        |         CAST(n4 AS DOUBLE) / (dn * dn * dn * dn) AS m4
        |  FROM m
        |)
        |SELECT source, n_groups, CAST(c0 AS BIGINT) AS n,
        |       round(CAST(c1 AS DOUBLE) / dn, 4) AS mean,
        |       round(CASE WHEN m2 > 0 THEN sqrt(m2) ELSE 0.0 END, 4) AS sd,
        |       round(CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END, 4)
        |         AS skewness,
        |       round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END, 4)
        |         AS kurtosis_ex
        |FROM mm ORDER BY source""".stripMargin,
  )
}
