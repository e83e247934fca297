package graft

import graft.streaming.EventStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new java.sql.Timestamp(min * 60000L)

  test("streaming tumbling window aggregates with watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.tumblingCounts(input.toDF(), duration = "1 hour")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        EventStream.Event(1, ts(5), 1, "click", 1.0),
        EventStream.Event(2, ts(10), 1, "click", 2.0),
        EventStream.Event(3, ts(70), 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select("event_type", "n", "sum_value").as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming session_window sessionizes by gap") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionCounts(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        EventStream.Event(1, ts(0), 1, "click", 1.0),
        EventStream.Event(2, ts(10), 1, "click", 1.0),
        EventStream.Event(3, ts(120), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .select("user_id", "n_events").as[(Long, Long)].collect().toList
      assert(rows.map(_._2).sorted == List(1L, 2L), s"got $rows")
    } finally q.stop()
  }

  test("streaming cumulative association score matches hand-computed harmonic") {
    import graft.streaming.AssociationStream
    import graft.streaming.AssociationStream.EvidenceEvent
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvidenceEvent]
    val q = AssociationStream.cumulativeScores(input.toDS())
      .writeStream.format("memory").queryName("assoc_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(EvidenceEvent(1, 2, "A", 0.8))
      q.processAllAvailable()
      input.addData(EvidenceEvent(1, 2, "A", 0.4), EvidenceEvent(1, 2, "A", 0.2))
      q.processAllAvailable()
      val last = spark.table("assoc_out")
        .select("n_evidence", "score").as[(Long, Double)].collect().maxBy(_._1)
      val expected = (0.8 / 1 + 0.4 / 4 + 0.2 / 9) / GraftConf.MaxScore
      assert(last._1 == 3L)
      assert(math.abs(last._2 - expected) < 1e-12)
    } finally q.stop()
  }

  test("streaming novelty peaks fire only on score increases") {
    import graft.streaming.AssociationStream
    import graft.streaming.AssociationStream.EvidenceEvent
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvidenceEvent]
    val q = AssociationStream.noveltyPeaks(input.toDS())
      .writeStream.format("memory").queryName("peaks_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(EvidenceEvent(1, 2, "A", 0.5))
      q.processAllAvailable()
      // duplicate score: top-K gains a 0.5 at rank 2 → small peak
      input.addData(EvidenceEvent(1, 2, "A", 0.5))
      q.processAllAvailable()
      val peaks = spark.table("peaks_out")
        .select("score", "peak").as[(Double, Double)].collect().sortBy(_._1)
      val s1 = 0.5 / GraftConf.MaxScore
      val s2 = (0.5 + 0.5 / 4) / GraftConf.MaxScore
      assert(peaks.length == 2)
      assert(math.abs(peaks(0)._1 - s1) < 1e-12 && math.abs(peaks(0)._2 - s1) < 1e-12)
      assert(math.abs(peaks(1)._1 - s2) < 1e-12 && math.abs(peaks(1)._2 - (s2 - s1)) < 1e-12)
    } finally q.stop()
  }

  test("evicting cumulative score drops a quiet key's state and rebuilds it") {
    import graft.streaming.AssociationStream
    import graft.streaming.AssociationStream.TimedEvidenceEvent
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[TimedEvidenceEvent]
    val q = AssociationStream.cumulativeScoresEvicting(
        input.toDS(), watermark = "10 minutes", evictAfterMs = 30 * 60000L)
      .writeStream.format("memory").queryName("assoc_evict")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(TimedEvidenceEvent(1, 2, "A", 0.8, ts(60)))
      q.processAllAvailable()
      // a different key pushes the watermark far past (1,2,A)'s
      // horizon; the next batch fires its event-time timeout
      input.addData(TimedEvidenceEvent(9, 9, "Z", 0.1, ts(600)))
      q.processAllAvailable()
      input.addData(TimedEvidenceEvent(9, 9, "Z", 0.1, ts(601)))
      q.processAllAvailable()
      // the quiet key returns: a retained state would make n_evidence 2
      // and fold 0.8 into the harmonic — a rebuilt key sees n=1, 0.4
      input.addData(TimedEvidenceEvent(1, 2, "A", 0.4, ts(602)))
      q.processAllAvailable()
      val rows = spark.table("assoc_evict")
        .filter("diseaseId = 1").select("n_evidence", "score")
        .as[(Long, Double)].collect().sortBy(-_._2)
      assert(rows.map(_._1).toSeq == Seq(1L, 1L),
        s"state must drop and rebuild, got $rows")
      assert(math.abs(rows(0)._2 - 0.8 / GraftConf.MaxScore) < 1e-12)
      assert(math.abs(rows(1)._2 - 0.4 / GraftConf.MaxScore) < 1e-12)
    } finally q.stop()
  }

  test("evicting novelty peaks restart a quiet key's peak history from zero") {
    import graft.streaming.AssociationStream
    import graft.streaming.AssociationStream.TimedEvidenceEvent
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[TimedEvidenceEvent]
    val q = AssociationStream.noveltyPeaksEvicting(
        input.toDS(), watermark = "10 minutes", evictAfterMs = 30 * 60000L)
      .writeStream.format("memory").queryName("peaks_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(TimedEvidenceEvent(1, 2, "A", 0.8, ts(60)))
      q.processAllAvailable()
      input.addData(TimedEvidenceEvent(9, 9, "Z", 0.1, ts(600)))
      q.processAllAvailable()
      input.addData(TimedEvidenceEvent(9, 9, "Z", 0.1, ts(601)))
      q.processAllAvailable()
      // retained state would score {0.8, 0.4} → peak 0.1/M; a rebuilt
      // key fires a fresh peak of exactly 0.4/M from zero
      input.addData(TimedEvidenceEvent(1, 2, "A", 0.4, ts(602)))
      q.processAllAvailable()
      val peaks = spark.table("peaks_evict")
        .filter("diseaseId = 1").select("score", "peak")
        .as[(Double, Double)].collect().sortBy(-_._1)
      assert(peaks.length == 2, s"expected 2 peaks, got ${peaks.toSeq}")
      assert(math.abs(peaks(0)._1 - 0.8 / GraftConf.MaxScore) < 1e-12)
      assert(math.abs(peaks(1)._1 - 0.4 / GraftConf.MaxScore) < 1e-12)
      assert(math.abs(peaks(1)._2 - 0.4 / GraftConf.MaxScore) < 1e-12,
        "rebuilt key's peak must start from zero")
    } finally q.stop()
  }

  test("frame sampling emits strided fixed-size frames") {
    import graft.operators.Multimodal
    val df = Seq((7L, Array.tabulate(640)(_.toByte))).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(df, frameBytes = 64, stride = 4).collect()
    assert(frames.map(_.frame_idx).sorted.toSeq == Seq(0, 4, 8))
    assert(frames.forall(_.frame.length == 64))
    assert(frames.find(_.frame_idx == 4).get.frame(0) == (4 * 64).toByte)
  }

  test("streaming exact dedup keeps first row per key within watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.dedupeExact(input.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        EventStream.Event(1, ts(0), 1, "click", 1.0),
        EventStream.Event(2, ts(1), 1, "click", 2.0), // dup key, dropped
        EventStream.Event(3, ts(2), 2, "click", 3.0))
      q.processAllAvailable()
      input.addData(EventStream.Event(4, ts(3), 1, "click", 4.0)) // dup across batches
      q.processAllAvailable()
      // within a batch the surviving duplicate is arbitrary (1 or 2);
      // across batches the key's state must reject event 4
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSet
      assert(ids.size == 2 && ids.contains(3L) && !ids.contains(4L),
        s"one survivor per key, late duplicates dropped: $ids")
    } finally q.stop()
  }

  test("file-source readStream drives the same tumbling aggregation") {
    import graft.sources.Tables
    val dir = "/tmp/graft-stream-src"
    val out = new java.io.File(dir)
    if (out.exists()) {
      java.nio.file.Files.walk(out.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val ev = Tables(spark, sfDir).events
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.write.parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val q = EventStream.tumblingCounts(stream, duration = "1 hour")
      .writeStream.format("memory").queryName("file_tumbling_out")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_tumbling_out")
        .groupBy().sum("n").as[Long].head()
      assert(streamed == ev.count(), "every event lands in exactly one window")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user totals") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("running_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(EventStream.Event(1, ts(0), 1, "click", 1.5))
      q.processAllAvailable()
      input.addData(EventStream.Event(2, ts(1), 1, "click", 2.5))
      q.processAllAvailable()
      val last = spark.table("running_out")
        .select("user_id", "n_events", "total_value").as[(Long, Long, Double)]
        .collect().maxBy(_._2)
      assert(last == ((1L, 2L, 4.0)))
    } finally q.stop()
  }

  test("streaming HLL sketch merges across micro-batches like one batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.tumblingDistinctSketch(input.toDF(), duration = "1 hour")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // same window, two micro-batches, overlapping users: the state-
      // store register merge must count 3 distinct users, not 4 rows
      input.addData(
        EventStream.Event(1, ts(5), 1, "click", 1.0),
        EventStream.Event(2, ts(10), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        EventStream.Event(3, ts(15), 2, "view", 1.0),
        EventStream.Event(4, ts(20), 3, "view", 1.0))
      q.processAllAvailable()
      val last = spark.table("hll_out")
        .select("n", "u_hll").as[(Long, Double)].collect().maxBy(_._1)
      val batch = Seq(1L, 2L, 2L, 3L).toDF("user_id")
        .agg(graft.functions.HllSketch.hllDistinct($"user_id")).head().getDouble(0)
      assert(last._1 == 4L)
      assert(last._2 == batch, "streamed registers must equal the one-batch sketch")
      assert(math.round(last._2) == 3L, "3 distinct users at this cardinality")
    } finally q.stop()
  }

  test("streaming CMS counters merge across micro-batches like one batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.tumblingCms(input.toDF(), duration = "1 hour")
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // one window split mid-stream: counter ADDITION is the merge,
      // so the final sketch must equal the one-batch sketch exactly
      input.addData(
        EventStream.Event(1, ts(5), 1, "click", 1.0),
        EventStream.Event(2, ts(10), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        EventStream.Event(3, ts(15), 2, "view", 1.0),
        EventStream.Event(4, ts(20), 3, "click", 1.0))
      q.processAllAvailable()
      val last = spark.table("cms_out")
        .select("n", "sk").as[(Long, Seq[Long])].collect().maxBy(_._1)
      val batch = Seq("click", "click", "view", "click").toDF("event_type")
        .agg(graft.functions.CmsSketch.cmsSketch($"event_type").as("sk"))
        .as[Seq[Long]].head()
      assert(last._1 == 4L)
      assert(last._2 == batch, "streamed counters must equal the one-batch sketch")
      // and the point estimates read back the exact counts (no
      // collisions at 2 keys x 4096 counters)
      val est = Seq(Tuple1(last._2)).toDF("sk").select(
        graft.functions.CmsSketch.cmsEstimate($"sk", org.apache.spark.sql.functions.lit("click")).as("c"),
        graft.functions.CmsSketch.cmsEstimate($"sk", org.apache.spark.sql.functions.lit("view")).as("v"))
        .as[(Long, Long)].head()
      assert(est == ((3L, 1L)), s"got $est")
    } finally q.stop()
  }

  test("streaming KLL summary keeps the quantile contract across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.tumblingKll(input.toDF(), duration = "1 hour")
      .writeStream.format("memory").queryName("kll_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // one window, two micro-batches: the state-store summary must
      // carry all four values (n exact) and eval the same quantiles
      // as a one-batch sketch (no compaction at n << k)
      input.addData(
        EventStream.Event(1, ts(5), 1, "click", 1.0),
        EventStream.Event(2, ts(10), 2, "click", 4.0))
      q.processAllAvailable()
      input.addData(
        EventStream.Event(3, ts(15), 2, "view", 2.0),
        EventStream.Event(4, ts(20), 3, "view", 3.0))
      q.processAllAvailable()
      val last = spark.table("kll_out")
        .select("n", "st").as[(Long, Array[Byte])].collect().maxBy(_._1)
      assert(last._1 == 4L)
      import graft.functions.KllSketch._
      val phis = Seq(0.25, 0.5, 0.9)
      val got = Seq(Tuple1(last._2)).toDF("st")
        .agg(kllQuantiles($"st", phis).as("q"), kllMerge($"st").as("m"))
        .select($"q", kllN($"m").as("nk")).as[(Seq[Double], Long)].head()
      assert(got._2 == 4L, "summary n must equal the exact count")
      val batch = Seq(1.0, 4.0, 2.0, 3.0).toDF("v")
        .agg(kllState($"v").as("st"))
        .agg(kllQuantiles($"st", phis).as("q"))
        .as[Seq[Double]].head()
      assert(got._1 == batch,
        s"streamed summary quantiles ${got._1} must equal one-batch $batch")
    } finally q.stop()
  }

  test("streaming Misra-Gries state keeps the survival bounds across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.tumblingFreq(input.toDF(), "event_type", k = 2,
        duration = "1 hour")
      .writeStream.format("memory").queryName("mg_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // one window, two micro-batches: a a b | a c c → exact a:3 c:2
      // b:1, n=6. With k=2, any item with true·3 > 6 MUST survive (a),
      // and every listed candidate obeys est ≤ true, (true−est)·3 ≤ 6.
      input.addData(
        EventStream.Event(1, ts(5), 1, "a", 1.0),
        EventStream.Event(2, ts(6), 1, "a", 1.0),
        EventStream.Event(3, ts(7), 1, "b", 1.0))
      q.processAllAvailable()
      input.addData(
        EventStream.Event(4, ts(8), 1, "a", 1.0),
        EventStream.Event(5, ts(9), 1, "c", 1.0),
        EventStream.Event(6, ts(10), 1, "c", 1.0))
      q.processAllAvailable()
      val last = spark.table("mg_out")
        .select($"n", $"st").as[(Long, Seq[(String, Long)])].collect()
        .maxBy(_._1)
      assert(last._1 == 6L)
      val cand = last._2.toMap
      val exact = Map("a" -> 3L, "b" -> 1L, "c" -> 2L)
      assert(cand.contains("a"), "a has true*(k+1) > n and must survive")
      assert(cand.size <= 2, "at most k counters")
      cand.foreach { case (w, est) =>
        assert(est <= exact(w), s"$w overestimated: $est > ${exact(w)}")
        assert((exact(w) - est) * 3 <= 6, s"$w bound violated: est $est")
      }
    } finally q.stop()
  }

  test("streaming OHLC state merges across micro-batches like one batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.tumblingOhlc(input.toDF(), duration = "1 hour")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // one window split mid-stream: open must survive from batch 1
      // (min_by state, out-of-order within the batch), close must move
      // to batch 2's last event — exactly what any batch split merges to
      input.addData(
        EventStream.Event(2, ts(10), 1, "click", 5.0),
        EventStream.Event(1, ts(5), 1, "click", 9.0))
      q.processAllAvailable()
      input.addData(
        EventStream.Event(3, ts(20), 1, "click", 1.0),
        EventStream.Event(4, ts(25), 1, "click", 7.0))
      q.processAllAvailable()
      val last = spark.table("ohlc_out")
        .select("n", "open", "high", "low", "close")
        .as[(Long, Double, Double, Double, Double)].collect().maxBy(_._1)
      assert(last == ((4L, 9.0, 9.0, 1.0, 7.0)), s"got $last")
    } finally q.stop()
  }

  test("incremental state replay over 3 forced micro-batches ≡ one batch aggregate") {
    import org.apache.spark.sql.functions._
    val dir = graft.Scratch.dir("ivm-in")
    val data = spark.range(0, 300)
      .select((col("id") % 7).as("user_id"), (col("id") % 13).as("v_i"))
    data.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val got = graft.streaming.StreamQueries
      .incrementalStateReplay(stream, Seq("user_id"), "v_i")
      .orderBy("user_id")
      .select("user_id", "st_n", "st_sum", "st_min", "st_max")
      .collect().toSeq
    val want = graft.operators.Incremental
      .aggState(data, Seq("user_id"), "v_i")
      .orderBy("user_id")
      .select("user_id", "st_n", "st_sum", "st_min", "st_max")
      .collect().toSeq
    assert(got == want, "per-batch folds must equal the one-shot state")
  }

  test("stream-stream FULL outer join emits null rows from BOTH sides on expiry") {
    implicit val ctx = spark.sqlContext
    val li = MemoryStream[EventStream.Event]
    val ri = MemoryStream[EventStream.Event]
    val out = EventStream.streamStreamFullJoin(li.toDF(), ri.toDF(),
      range = "10 minutes", watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("fullouter_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: matched pair; user 2: left only; user 3: right only
      li.addData(
        EventStream.Event(1, ts(10), 1, "purchase", 1.0),
        EventStream.Event(2, ts(12), 2, "purchase", 1.0))
      ri.addData(
        EventStream.Event(10, ts(8), 1, "click", 1.0),
        EventStream.Event(11, ts(9), 3, "click", 1.0))
      q.processAllAvailable()
      // push BOTH watermarks far past every hold (range + watermark)
      li.addData(EventStream.Event(99, ts(600), 999, "purchase", 0.0))
      ri.addData(EventStream.Event(98, ts(600), 998, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("fullouter_out")
        .filter(org.apache.spark.sql.functions.col("user_id") < 100)
        .select("user_id", "left_id", "right_id")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(got == Set((1L, 1L, 10L), (2L, 2L, -1L), (3L, -1L, 11L)),
        s"matched + left-null + right-null expected, got $got")
    } finally q.stop()
  }

  test("transformWithState running totals accumulate across micro-batches (RocksDB)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, EventStream.RocksDbProvider)
    try {
      val input = MemoryStream[EventStream.Event]
      val q = EventStream.runningTotalsTws(input.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(
          EventStream.Event(1, ts(1), 1, "click", 1.5),
          EventStream.Event(2, ts(2), 1, "click", 2.0),
          EventStream.Event(3, ts(3), 2, "view", 10.0))
        q.processAllAvailable()
        input.addData(EventStream.Event(4, ts(4), 1, "view", 0.25))
        q.processAllAvailable()
        val fin = spark.table("tws_out")
          .groupBy("user_id")
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.struct(
              org.apache.spark.sql.functions.col("n_events"),
              org.apache.spark.sql.functions.col("total_cents"))).as("st"))
          .select("user_id", "st.n_events", "st.total_cents")
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        // user 1: 3 events, 150 + 200 + 25 cents; user 2: 1 event, 1000
        assert(fin(1L) == ((3L, 375L)), s"got $fin")
        assert(fin(2L) == ((1L, 1000L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState ListState ledger expires via processing-time TTL") {
    // The H53 TTL contract (SURVEY §2): with a TTLConfig in
    // ProcessingTime mode, BOTH states (ListState ledger + ValueState
    // counter) expire per entry — an idle user's next batch restarts
    // from empty instead of extending the old ledger.
    //
    // Harness shape: in ProcessingTime mode `shouldRunAnotherBatch` is
    // perpetually true (the clock itself is pending work), so the
    // query NEVER quiesces — processAllAvailable hangs (measured:
    // 9,000+ empty batches) and even Trigger.AvailableNow keeps
    // planning batches (measured: 421 versions before the timeout).
    // So: one paced long-running query, and POLL the memory sink for
    // the expected state instead of awaiting quiescence. Keys with no
    // input rows emit nothing, so empty clock-tick batches stay
    // invisible to the sink.
    implicit val ctx = spark.sqlContext
    EventStream.withRocksDbStateStore(spark) {
      val input = MemoryStream[EventStream.Event]
      val q = EventStream.minKLedgerTws(input.toDS(), k = 3,
        ttl = Some(java.time.Duration.ofMillis(1000)))
        .writeStream.format("memory").queryName("twsttl_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .outputMode(OutputMode.Update()).start()
      def rows(): Set[(Long, Long, Long, Long)] = spark.table("twsttl_out")
        .select("user_id", "n_seen", "k_kept", "sum_kept_cents")
        .as[(Long, Long, Long, Long)].collect().toSet
      def awaitRow(want: (Long, Long, Long, Long)): Set[(Long, Long, Long, Long)] = {
        val deadline = System.nanoTime() + 120e9.toLong
        var got = rows()
        while (!got.contains(want) && System.nanoTime() < deadline) {
          Thread.sleep(100); got = rows()
        }
        got
      }
      try {
        input.addData(
          EventStream.Event(1, ts(1), 1, "click", 1.00),
          EventStream.Event(2, ts(2), 1, "click", 2.00))
        val afterB1 = awaitRow((1L, 2L, 2L, 300L))
        assert(afterB1 == Set((1L, 2L, 2L, 300L)), s"got $afterB1")
        // sleep well past the 1 s TTL so every batch-1 entry expires
        Thread.sleep(3000)
        input.addData(EventStream.Event(3, ts(3), 1, "click", 5.00))
        // the new row proves ledger AND counter restarted from empty —
        // without expiry batch 2 would emit (1, 3, 3, 800): 3 seen,
        // all of 100/200/500 kept
        val afterB2 = awaitRow((1L, 1L, 1L, 500L))
        assert(afterB2.contains((1L, 1L, 1L, 500L)),
          s"TTL must clear both states; got $afterB2")
        assert(!afterB2.contains((1L, 3L, 3L, 800L)),
          s"batch-1 ledger survived past its TTL: $afterB2")
      } finally q.stop()
    }
  }

  test("transformWithState MapState per-type counts merge across micro-batches") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, EventStream.RocksDbProvider)
    try {
      val input = MemoryStream[EventStream.Event]
      val q = EventStream.perTypeCountsTws(input.toDS())
        .writeStream.format("memory").queryName("twsmap_out")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(
          EventStream.Event(1, ts(1), 1, "click", 1.0),
          EventStream.Event(2, ts(2), 1, "view", 1.0),
          EventStream.Event(3, ts(3), 1, "click", 1.0))
        q.processAllAvailable()
        input.addData(EventStream.Event(4, ts(4), 1, "click", 1.0))
        q.processAllAvailable()
        val fin = spark.table("twsmap_out")
          .groupBy("user_id", "event_type")
          .agg(org.apache.spark.sql.functions.max("n_events").as("n"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(fin((1L, "click")) == 3L && fin((1L, "view")) == 1L, s"got $fin")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("DedupStream: kept set is micro-batch-split invariant (H58)") {
    implicit val ctx = spark.sqlContext
    val ctr = new java.util.concurrent.atomic.AtomicLong()
    def run(batches: Seq[Seq[(Long, String)]]): Set[Long] =
      EventStream.withRocksDbStateStore(spark) {
        val input = MemoryStream[(Long, String)]
        val name = s"neardup_out_${ctr.incrementAndGet()}"
        val q = graft.streaming.DedupStream
          .bucketKeepers(input.toDF().toDF("doc_id", "text"))
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update()).start()
        try {
          batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
          graft.streaming.DedupStream.keptDocs(spark.table(name))
            .as[Long].collect().toSet
        } finally q.stop()
      }
    val dup = "the quick brown fox jumps over the lazy dog"
    val other = "completely different words appear in this unrelated sentence"
    // doc 2 arrives BEFORE doc 1 — in-stream it is the first claimant,
    // but the split-invariant reduction resolves keepers to min id
    val a = run(Seq(Seq(2L -> dup, 3L -> other), Seq(1L -> dup)))
    val b = run(Seq(Seq(1L -> dup, 2L -> dup, 3L -> other)))
    assert(a == Set(1L, 3L), s"split A kept $a")
    assert(b == a, s"kept set must not depend on the micro-batch split: $b vs $a")
  }

  // ---- crash-recovery gate (VERDICT r15 item 2): kill a paced
  // replay mid-stream, resume a NEW query object from the same
  // checkpoint, and require restarted-sink ≡ single-run-sink ≡ batch
  // oracle — state-store restore, watermark re-read, source-offset
  // replay, and sink idempotence, one representative per state
  // family. ----

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.streaming.StreamQueries

  /** `rows` (sf0.001) split into 16 TIME-ORDERED files by `byTime`,
    * with strictly increasing modification times, so
    * maxFilesPerTrigger=1 paces 16 micro-batches arriving in event-
    * time order — plenty of room for the kill to land mid-replay. The
    * ordering matters: FileStreamSource drains files by mod-time, and
    * a first batch containing the corpus's max event time would push
    * the watermark past everything else, dropping batches 2..16 as
    * late (a replay artifact, not an arrival pattern any production
    * stream has).
    */
  private def timeSlices(tag: String, rows: DataFrame, byTime: String): String = {
    val d = java.nio.file.Paths.get(graft.Scratch.dir(tag))
    val n = 16
    val sliced = rows
      .withColumn("__slice", org.apache.spark.sql.functions.ntile(n).over(
        org.apache.spark.sql.expressions.Window.orderBy(byTime)))
    (1 to n).foreach { i =>
      val tmp = java.nio.file.Paths.get(graft.Scratch.dir(s"$tag-tmp-$i"))
      sliced.filter(org.apache.spark.sql.functions.col("__slice") === i)
        .drop("__slice")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst.get
      val dst = d.resolve(f"slice-$i%02d.parquet")
      java.nio.file.Files.copy(part, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    d.toString
  }

  private lazy val crashSrcDir: String =
    timeSlices("crash-src", graft.sources.Tables(spark, sfDir).events, "ts")

  /** lineitem, the evidence source of the paper's score, by ship date. */
  private lazy val evidenceSrcDir: String =
    timeSlices("crash-evidence", graft.sources.Tables(spark, sfDir).lineitem, "l_shipdate")

  private def paced(dir: String): DataFrame = spark.readStream
    .schema(spark.read.parquet(dir).schema)
    .option("maxFilesPerTrigger", "1").parquet(dir)

  private def pacedEvents: DataFrame = paced(crashSrcDir)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The recovered sink's final rows (sorted by their text), after
    * asserting they equal a single run's.
    */
  private def crashVsSingle(
      build: () => DataFrame,
      finalize: DataFrame => DataFrame = identity,
      mode: String = "append"): Seq[Row] = {
    val cr = StreamQueries.crashRecoveryReplay(spark, build, outputMode = mode)
    assert(cr.phase2InputRows > 0,
      s"phase 2 read nothing — the kill landed after the replay finished " +
        s"(phase1=${cr.phase1Batches} batches); recovery untested")
    val crash = finalize(cr.result).collect().sortBy(_.toString).toSeq
    val single = sortedRows(finalize(StreamQueries.materialize(build(), mode)))
    assert(crash.map(_.toString) == single, s"restarted sink != single-run sink " +
      s"(${crash.size} vs ${single.size} rows)")
    crash
  }

  test("crash-recovery: tumbling windowed agg (q60 family) ≡ single run ≡ batch grid") {
    def build() = EventStream.tumblingCounts(pacedEvents, "1 hour", "2 hours")
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("sum_value"), 4).as("sum_value"))
    val crash = crashVsSingle(() => build())
    // batch oracle: the finalized tumbling grid (window end ≤ max−2h)
    val ev = spark.read.parquet(crashSrcDir)
    val mx = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val cut = new java.sql.Timestamp(mx.getTime - 2 * 3600 * 1000L)
    val batch = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .filter(col("window.end") <= lit(cut))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
    assert(crash.map(_.toString) == sortedRows(batch))
  }

  test("crash-recovery: session windows (q61 family) ≡ single run") {
    def build() = EventStream.sessionCounts(pacedEvents, "30 minutes", "2 hours")
      .select(col("user_id"), col("n_events"),
        unix_micros(col("start_ts")).as("start_us"),
        unix_micros(col("end_ts")).as("end_us"))
    crashVsSingle(() => build())
  }

  test("crash-recovery: stream-stream join (q85 family) ≡ single run") {
    def build() = {
      val ev = pacedEvents
      EventStream.streamStreamJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        range = "1 hour", watermark = "3650 days")
    }
    crashVsSingle(() => build())
  }

  test("crash-recovery: windowed HLL sketch state (q109 family) ≡ single run") {
    def build() = EventStream.tumblingDistinctSketch(pacedEvents, "1 hour", "2 hours")
      .select(col("window_start"), col("n"), round(col("u_hll"), 4).as("u_hll"))
    crashVsSingle(() => build())
  }

  private def crashEventsDs: org.apache.spark.sql.Dataset[EventStream.Event] =
    EventStream.typedEvents(pacedEvents)

  private def crashBatchEvents: DataFrame =
    spark.read.parquet(crashSrcDir)
      .filter(col("value").isNotNull && col("event_id").isNotNull &&
        col("user_id").isNotNull)

  test("crash-recovery: transformWithState VALUE state (q277 family) ≡ batch oracle") {
    def finalState(df: DataFrame) = df.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_cents"))).as("st"))
      .select(col("user_id"), col("st.n_events").as("n_events"),
        col("st.total_cents").as("total_cents"))
    val crash = crashVsSingle(() => EventStream.runningTotalsTws(crashEventsDs),
      finalState, mode = "update")
    val batch = crashBatchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
    assert(crash.map(_.toString) == sortedRows(batch))
  }

  test("crash-recovery: transformWithState MAP state (q282 family) ≡ batch oracle") {
    def finalState(df: DataFrame) = df.groupBy("user_id", "event_type")
      .agg(max(col("n_events")).as("n_events"))
    val crash = crashVsSingle(() => EventStream.perTypeCountsTws(crashEventsDs),
      finalState, mode = "update")
    val batch = crashBatchEvents.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"))
    assert(crash.map(_.toString) == sortedRows(batch))
  }

  test("crash-recovery: transformWithState LIST state (q290 family) ≡ batch oracle") {
    import org.apache.spark.sql.expressions.Window
    def finalState(df: DataFrame) = df.groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("k_kept"), col("sum_kept_cents"))).as("st"))
      .select(col("user_id"), col("st.n_seen").as("n_seen"),
        col("st.k_kept").as("k_kept"),
        col("st.sum_kept_cents").as("sum_kept_cents"))
    val crash = crashVsSingle(() => EventStream.minKLedgerTws(crashEventsDs, k = 3),
      finalState, mode = "update")
    val batch = crashBatchEvents
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("cents"), col("event_id"))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_seen"),
        sum(when(col("rn") <= 3, 1L).otherwise(0L)).as("k_kept"),
        sum(when(col("rn") <= 3, col("cents")).otherwise(0L)).as("sum_kept_cents"))
    assert(crash.map(_.toString) == sortedRows(batch))
  }

  test("replay runner starts transformWithState on RocksDB and restores the session confs") {
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.getOption)
    val out = StreamQueries.materialize(
      EventStream.runningTotalsTws(EventStream.typedEvents(
        StreamQueries.streamEvents(spark, sfDir))), "update")
    assert(keys.map(spark.conf.getOption) == before, "the runner left its confs set")
    val fin = out.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_cents"))).as("st"))
      .select(col("user_id"), col("st.n_events").as("n_events"),
        col("st.total_cents").as("total_cents"))
    val batch = EventStream.typedEvents(graft.sources.Tables(spark, sfDir).events)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
    assert(sortedRows(fin) == sortedRows(batch))
  }

  // ---- the paper's streaming twin under a crash: the cumulative top-K
  // harmonic score carried across a kill must equal a single run and
  // the batch chain's score over all the evidence ----

  import graft.streaming.AssociationStream

  private val scoreKeys = Seq("diseaseId", "targetId", "datasourceId")

  private def pacedEvidence: DataFrame = StreamQueries.evidence(paced(evidenceSrcDir))

  private def pacedTimedEvidence: DataFrame = StreamQueries.evidence(
    paced(evidenceSrcDir), col("l_shipdate").cast("timestamp").as("ts"))

  /** AssociationScore.byDatasource's undated-bucket (year null) score
    * per key: its accumulation covers every dated year too, so it is
    * the score over all the replayed lineitem rows.
    */
  private lazy val batchScores: Map[(Long, Long, String), Double] =
    graft.operators.AssociationScore.byDatasource(graft.sources.Tables(spark, sfDir).evidence)
      .filter(col("year").isNull)
      .select(col("diseaseId").cast("long"), col("targetId").cast("long"),
        col("datasourceId"), round(col("score"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap

  /** `x` rounded half-up to 4 dp. */
  private def dp4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Recovered (keys, score) rows equal `want` per key at 4 dp. */
  private def assertScores(recovered: Seq[Row], want: Map[(Long, Long, String), Double]): Unit = {
    val got = recovered.map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
      dp4(r.getDouble(3))).toMap
    assert(got.size == recovered.size && got.keySet == want.keySet,
      s"${got.size} recovered keys vs ${want.size} batch keys")
    val off = got.filter { case (k, v) => v != want(k) }
    assert(off.isEmpty, s"${off.size} keys differ from byDatasource, e.g. " +
      off.take(3).map { case (k, v) => s"$k: $v vs ${want(k)}" }.mkString("; "))
  }

  private def finalScores(updates: DataFrame): DataFrame =
    StreamQueries.latestByKey(updates, scoreKeys, "n_evidence")
      .select((scoreKeys :+ "score").map(col): _*)

  test("crash-recovery: cumulative harmonic score (q63 family) ≡ single run ≡ byDatasource") {
    val crash = crashVsSingle(() => AssociationStream.cumulativeScores(
        pacedEvidence.as[AssociationStream.EvidenceEvent]),
      finalScores, mode = "update")
    assertScores(crash, batchScores)
  }

  test("crash-recovery: evicting cumulative score (q65 family) ≡ single run ≡ byDatasource") {
    val crash = crashVsSingle(() => AssociationStream.cumulativeScoresEvicting(
        pacedTimedEvidence.as[AssociationStream.TimedEvidenceEvent],
        watermark = "3650 days", evictAfterMs = 200L * 365 * 24 * 3600 * 1000),
      finalScores, mode = "update")
    assertScores(crash, batchScores)
  }

  test("crash-recovery: novelty peaks (q170 family) ≡ single run ≡ byDatasource") {
    // the highest peak a key fires is its final score; a key whose
    // score never rises above 0 fires none
    val crash = crashVsSingle(() => AssociationStream.noveltyPeaks(
        pacedEvidence.as[AssociationStream.EvidenceEvent]).toDF(),
      _.groupBy(scoreKeys.map(col): _*).agg(max(col("score")).as("score")))
    assertScores(crash, batchScores.filter(_._2 > 0))
  }

  test("replay caps its state width at a narrower session's own width") {
    // the test session runs 4 shuffle partitions, under the runner's cap
    // of GraftConf.StreamStatePartitions: the stateful operator must run
    // at the session's 4, not be widened to the cap
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val width = spark.sessionState.conf.numShufflePartitions
    assert(width < GraftConf.StreamStatePartitions)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => seen.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      StreamQueries.materialize(EventStream.tumblingCounts(
        StreamQueries.streamEvents(spark, sfDir), "1 hour", "2 hours"))
      // progress reaches listeners asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.streams.removeListener(listener)
    assert(!seen.isEmpty, "no state operator progress was reported")
    assert(seen.asScala.forall(_ == width),
      s"state operators ran on ${seen.asScala.toSet} partitions, want $width")
  }

  // ---- the paper's streaming twin under any year-aligned micro-batch
  // split: state carried between batches must equal a from-scratch
  // recomputation over the years replayed so far ----

  private lazy val shipYears: Seq[Int] = graft.sources.Tables(spark, sfDir).evidence
    .select("year").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Consecutive ship years grouped into micro-batches: seed 0 gives
    * every year its own batch, other seeds cut at random years.
    */
  private def yearBatches(seed: Int): Seq[Seq[Int]] =
    if (seed == 0) shipYears.map(Seq(_))
    else {
      val rnd = new scala.util.Random(seed)
      shipYears.foldLeft(Vector.empty[Vector[Int]]) { (acc, y) =>
        if (acc.isEmpty || rnd.nextBoolean()) acc :+ Vector(y)
        else acc.init :+ (acc.last :+ y)
      }
    }

  /** lineitem, one file per batch of ship years in year order, paced
    * one file per micro-batch.
    */
  private def yearBatchedEvidence(tag: String, batches: Seq[Seq[Int]]): DataFrame = {
    val d = java.nio.file.Paths.get(graft.Scratch.dir(tag))
    val lineitem = graft.sources.Tables(spark, sfDir).lineitem
    batches.zipWithIndex.foreach { case (ys, i) =>
      val tmp = java.nio.file.Paths.get(graft.Scratch.dir(s"$tag-tmp-$i"))
      lineitem.filter(year(col("l_shipdate")).isin(ys: _*))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      val dst = d.resolve(f"batch-$i%02d.parquet")
      java.nio.file.Files.copy(part, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    StreamQueries.evidence(paced(d.toString))
  }

  private type Key = (Long, Long, String)

  /** byDatasource's dense scores with the scaffold opening one year
    * before the first ship year, so every key's first rise is a peak.
    */
  private lazy val denseScores: DataFrame = graft.operators.AssociationScore.byDatasource(
    graft.sources.Tables(spark, sfDir).evidence, firstYear = shipYears.head - 1)
    .filter(col("year").isNotNull)

  private lazy val scoreAt: Map[(Key, Int), Double] = denseScores
    .filter(col("score").isNotNull)
    .select(col("diseaseId").cast("long"), col("targetId").cast("long"),
      col("datasourceId"), col("year"), col("score"))
    .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getInt(3)) ->
      r.getDouble(4)).toMap

  private lazy val evidenceCounts: Map[(Key, Int), Long] = graft.sources.Tables(spark, sfDir)
    .evidence.groupBy("diseaseId", "targetId", "datasourceId", "year").count()
    .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getInt(3)) ->
      r.getLong(4)).toMap

  test("cumulative score under any year-aligned micro-batch split ≡ byDatasource at the batch's last year") {
    val keys = evidenceCounts.keySet.map(_._1)
    for (seed <- 0 to 2) {
      val batches = yearBatches(seed)
      val updates = StreamQueries.materialize(AssociationStream.cumulativeScores(
          yearBatchedEvidence(s"split-score-$seed", batches)
            .as[AssociationStream.EvidenceEvent]), "update")
        .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)),
          r.getLong(3), r.getDouble(4))).toSeq
      // every (key, batch) with evidence: its cumulative count and the
      // from-scratch score through the batch's last year
      val want = keys.toSeq.flatMap { k =>
        batches.scanLeft((0L, 0L)) { case ((_, cum), ys) =>
          val c = ys.map(y => evidenceCounts.getOrElse((k, y), 0L)).sum
          (c, cum + c)
        }.tail.zip(batches).collect { case ((c, cum), ys) if c > 0 =>
          (k, cum) -> dp4(scoreAt((k, ys.last)))
        }
      }.toMap
      val got = updates.map { case (k, n, sc) => (k, n) -> dp4(sc) }.toMap
      assert(got.size == updates.size && got.keySet == want.keySet,
        s"seed $seed ($batches): ${updates.size} updates vs ${want.size} (key, batch) pairs")
      val off = got.filter { case (kn, v) => v != want(kn) }
      assert(off.isEmpty, s"seed $seed ($batches): ${off.size} updates differ, e.g. " +
        off.take(3).map { case (kn, v) => s"$kn: $v vs ${want(kn)}" }.mkString("; "))
    }
  }

  test("novelty peaks under any year-aligned micro-batch split ≡ Novelty.peaks summed over the batch's years") {
    val peaks: Map[(Key, Int), Double] = graft.operators.Novelty.peaks(denseScores, scoreKeys)
      .select(col("diseaseId").cast("long"), col("targetId").cast("long"),
        col("datasourceId"), col("peakYear"), col("peak"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getInt(3)) ->
        r.getDouble(4)).toMap
    val keys = peaks.keySet.map(_._1)
    for (seed <- 0 to 2) {
      val batches = yearBatches(seed)
      val events = StreamQueries.materialize(AssociationStream.noveltyPeaks(
          yearBatchedEvidence(s"split-peaks-$seed", batches)
            .as[AssociationStream.EvidenceEvent]).toDF())
        .select("diseaseId", "targetId", "datasourceId", "score", "peak")
        .collect().map(r => ((r.getLong(0), r.getLong(1), r.getString(2)),
          dp4(r.getDouble(3)), dp4(r.getDouble(4)))).toSeq
      // a batch fires when its years hold a positive peak; the delta is
      // their sum and the score the one at the batch's last year
      val want = keys.toSeq.flatMap { k =>
        batches.flatMap { ys =>
          val delta = ys.flatMap(y => peaks.get((k, y))).sum
          if (delta > 0) Some((k, dp4(scoreAt((k, ys.last))), dp4(delta))) else None
        }
      }
      assert(events.sortBy(_.toString) == want.sortBy(_.toString),
        s"seed $seed ($batches): ${events.size} peak events vs ${want.size} expected, " +
          s"first differences: ${events.diff(want).take(3)} / ${want.diff(events).take(3)}")
    }
  }
}

