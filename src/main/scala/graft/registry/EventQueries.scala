package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, DedupStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — event analytics: windows, sessions, funnels, retention, and
  * the streaming replays (SURVEY.md family H).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object EventQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q40_window_tumbling" -> ((s, dir) => {
      val t = Tables(s, dir)
      EventWindows.tumbling(t.events, "1 hour", Seq("event_type"),
          Seq(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    }),
    "q41_window_sliding" -> ((s, dir) => {
      val t = Tables(s, dir)
      EventWindows.sliding(t.events, "2 hours", "1 hour", Seq("event_type"),
          Seq(count(lit(1)).as("n")))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))
    }),
    "q42_sessionize" -> ((s, dir) => {
      val t = Tables(s, dir)
      Sessionize.sessions(t.events, gapMinutes = 30)
        .select(col("user_id"), col("session_id"), col("n_events"),
          unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"), col("duration_us"))
    }),
    "q43_json_extract" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
          count(col("k")).as("n_k"),
          round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"),
          count(when(col("k") > 50, 1)).as("n_high"))
    }),
    "q103_session_transitions" -> ((s, dir) => {
      // session-scoped Markov transition matrix: 30-min-gap sessions,
      // consecutive event-type pair counts, row-normalized
      val t = Tables(s, dir)
      Sessionize.transitions(t.events, gapMinutes = 30)
        .select("from_type", "to_type", "n", "p")
    }),
    "q112_interval_merge" -> ((s, dir) => {
      // gaps-and-islands coverage: each event opens a presence
      // interval of `value` minutes; overlapping/touching intervals
      // merge into maximal islands per user (one user-keyed exchange,
      // O(1) window state)
      val t = Tables(s, dir)
      val iv = t.events.select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) +
          floor(col("value") * 60000000L).cast("long")).as("end_us"))
      EventWindows.mergeIntervals(iv, "user_id", "start_us", "end_us", "event_id")
        .select("user_id", "island", "start_us", "end_us", "n_intervals")
    }),
    "q118_scd2" -> ((s, dir) => {
      // SCD-2 dimension history: collapse each user's consecutive
      // runs of equal event_type into versioned validity ranges
      // (run-length encoding of a keyed state stream; every step
      // rides one user-keyed exchange)
      val t = Tables(s, dir)
      scd2History(t)
        .select("user_id", "version", "value",
          "valid_from_us", "valid_to_us", "is_current")
    }),
    "q302_pit_join" -> ((s, dir) => {
      // H55 point-in-time enrichment: probe each event 30 minutes
      // after it happened against the user's SCD-2 state history —
      // the leakage-free feature-store join, realized as ONE as-of
      // pass (never a per-key interval fan-out)
      val t = Tables(s, dir)
      val ev = t.events.withColumn("ts_us", unix_micros(col("ts")))
      val dim = EventWindows.scd2(ev, "user_id", "event_type", "ts_us", "event_id")
      val facts = ev.filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          (col("ts_us") + 1800000000L).as("probe_us"))
      EventWindows.pointInTime(facts, dim, "user_id", "probe_us",
          Seq("value", "valid_from_us"))
        .select(col("event_id"), col("user_id"),
          col("value").as("state"), col("valid_from_us").as("state_from_us"))
    }),
    "q306_state_dwell" -> ((s, dir) => {
      // H57 state dwell-time distribution: how long users sit in each
      // event-type state before transitioning, from the SCD-2 history
      // (closed versions only — live states are right-censored)
      val t = Tables(s, dir)
      val dim = scd2History(t)
      EventWindows.stateDwell(dim)
    }),
    "q304_stream_pit" -> ((s, dir) => {
      // H56 streaming point-in-time: the q302 enrichment with the
      // PROBE side live — a stateless stream-static LEFT join against
      // the broadcast SCD-2 dim (append mode, no state store); the
      // interval predicate replaces the as-of sort a stream can't do,
      // and the SAME oracle gates both halves
      val t = Tables(s, dir)
      val dim = scd2History(t)
      val ev = StreamQueries.streamEvents(s, dir)
      StreamQueries.materialize(
        EventStream.streamPointInTime(ev, dim, probeShiftUs = 1800000000L))
    }),
    "q149_ohlc" -> ((s, dir) => {
      // hourly OHLC bars of event value per event_type — one map-side
      // combined aggregate, min_by/max_by against (ts, event_id) for
      // deterministic open/close under timestamp ties
      val t = Tables(s, dir)
      EventWindows.ohlcBars(t.events, Seq("event_type"), "ts", "value",
          "event_id", 3600000000L)
        .select(col("event_type"), col("bar"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"),
          col("n_events"))
    }),
    "q153_stream_ohlc" -> ((s, dir) => {
      // OHLC as streaming state: five scalars per (window, key) in the
      // state store, append-mode finalized windows, min_by/max_by
      // total order makes any micro-batch split merge identically
      StreamQueries.materialize(
          EventStream.tumblingOhlc(StreamQueries.streamEvents(s, dir)))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"),
          col("n"))
    }),
    "q163_rfm" -> ((s, dir) => {
      // RFM segmentation with exact interpolated population quintiles
      // broadcast back — scoring is a pure projection per user
      val t = Tables(s, dir)
      EventWindows.rfm(t.events)
    }),
    "q164_user_paths" -> ((s, dir) => {
      // entry-funnel sunburst: first-3 event-type paths across users,
      // rank-filtered BEFORE any collection (hot users cost k rows)
      val t = Tables(s, dir)
      EventWindows.pathPrefixes(t.events)
    }),
    "q144_kaplan_meier" -> ((s, dir) => {
      // time-to-conversion survival: subjects = users, clock starts at
      // their first event, event = first purchase, censoring at the
      // corpus horizon; cohorted by the user's (deterministic
      // min_by-tie-broken) first action. Subjects collapse to
      // (cohort, day) grain before the bounded KM windows.
      val t = Tables(s, dir)
      val subjects = cohortSubjects(t)
      EventWindows.kaplanMeier(subjects, Seq("cohort"))
    }),
    "q337_logrank" -> ((s, dir) => {
      // H60 two-arm log-rank: q144's time-to-purchase subjects, arms
      // from the deterministic md5 coin on user_id — "did the A/B
      // split change time-to-convert", the inferential twin of the
      // KM curves. Micro-unit term sums keep both engines integer.
      val t = Tables(s, dir)
      val ev = t.events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val horizon = broadcast(ev.agg(max("us").as("hz")))
      val users = ev.groupBy("user_id")
        .agg(min("us").as("t0"),
          min(when(col("event_type") === "purchase", col("us"))).as("tp"))
      val subjects = users.join(horizon)
        .withColumn("arm",
          when(Sampling.hashBucket(col("user_id"), "lr") % 2 === 0, "A")
            .otherwise("B"))
        .withColumn("event", when(col("tp").isNotNull, 1L).otherwise(0L))
        .withColumn("duration",
          expr("(coalesce(tp, hz) - t0) DIV 86400000000"))
      EventWindows.logRank(subjects, "arm", "A", "B")
    }),
    "q97_retention" -> ((s, dir) => {
      // weekly cohort retention: cohort = first active 7-day epoch
      // period per user; rate = active users at offset / cohort size
      val t = Tables(s, dir)
      EventWindows.retention(t.events, periodDays = 7)
        .select(col("cohort_period"), col("offset"),
          col("n_active"), col("n_cohort"), col("rate"))
    }),
    "q95_funnel" -> ((s, dir) => {
      // sequential conversion funnel: earliest view -> first click at
      // or after it -> first purchase at or after that, per user
      val t = Tables(s, dir)
      EventWindows.funnel(t.events, Seq("view", "click", "purchase"))
    }),
    "q64_stream_enrich" -> ((s, dir) => {
      // stream-static dimension enrichment: deterministic per-type
      // weight dim broadcast into every micro-batch, tumbling weighted
      // sums, append-mode watermark finalization as in q60
      val t = Tables(s, dir)
      val dim = t.events.select(col("event_type")).distinct()
        .withColumn("weight",
          ((Sampling.hashBucket(col("event_type"), "w") % 9 + 1).cast("double")
            / lit(10).cast("double")))
      StreamQueries.materialize(
          EventStream.enrichedTumbling(
            StreamQueries.streamEvents(s, dir), dim, "1 hour", "2 hours"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), round(col("wsum"), 4).as("wsum"))
    }),
    "q60_stream_tumbling" -> ((s, dir) => {
      // the streaming runtime end-to-end: file-source replay, 2h
      // watermark, append mode — only FINALIZED windows (window end ≤
      // max event time − 2h) are emitted, which no batch split changes
      StreamQueries.materialize(
          EventStream.tumblingCounts(
            StreamQueries.streamEvents(s, dir), "1 hour", "2 hours"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
    }),
    "q109_stream_hll" -> ((s, dir) => {
      // the HLL sketch as streaming state: approx-distinct users per
      // finalized tumbling hour (2h watermark, append mode)
      StreamQueries.materialize(
          EventStream.tumblingDistinctSketch(
            StreamQueries.streamEvents(s, dir), "1 hour", "2 hours"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n"), round(col("u_hll"), 4).as("u_hll"))
    }),
    "q345_stream_kll" -> ((s, dir) => {
      // H61 KLL summary as streaming state per finalized tumbling
      // hour; gate = the I34 sketch contract per window (summary n ≡
      // exact count, every φ estimate's exact rank within ε=0.025,
      // verified by one batch pass) — invariant under any micro-batch
      // split, so the batch window grid oracles the streaming path
      val t = Tables(s, dir)
      val phis = Seq(0.25, 0.5, 0.9)
      import graft.functions.KllSketch._
      val sk = StreamQueries.materialize(
          EventStream.tumblingKll(
            StreamQueries.streamEvents(s, dir), "value", "1 hour", "2 hours"))
        .groupBy(col("window_start"), col("n"))
        .agg(kllQuantiles(col("st"), phis).as("q"),
          kllMerge(col("st")).as("m"))
        .select(col("window_start"), col("n"), kllN(col("m")).as("__nsk"),
          posexplode(col("q")).as(Seq("i", "est")))
        .withColumn("phi",
          element_at(typedLit(phis), col("i").cast("int") + 1))
      t.events.filter(col("value").isNotNull)
        .select(date_trunc("hour", col("ts")).as("window_start"), col("value"))
        .join(broadcast(sk), "window_start")
        .groupBy(col("window_start"), col("phi"), col("n"), col("__nsk"),
          col("est"))
        .agg(sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("__le"),
          sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("__lt"),
          count(lit(1)).as("__ne"))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("phi"), col("n"),
          // DISCRETE, tie-aware form of the ε gate: the sketch's
          // selection rule targets rank max(1, ceil(φ·n)) exactly
          // (KllBuffer.quantiles); a tied est occupies the rank
          // INTERVAL [#(v<est)+1, #(v≤est)], so the gate asks the
          // target to sit within that interval widened by the ε·n
          // compaction bound — small windows (where |rank/n − φ| can
          // never beat ε) are judged against the rule itself, as I34
          {
            val eps = lit(0.025) * col("__ne").cast("double")
            val target = greatest(lit(1L),
              ceil(col("phi") * col("__ne").cast("double"))).cast("double")
            (col("n") === col("__ne") && col("__nsk") === col("n") &&
              target >= col("__lt").cast("double") + lit(1.0) - eps &&
              target <= col("__le").cast("double") + eps).as("ok")
          })
    }),
    "q351_stream_freq" -> ((s, dir) => {
      // H62 Misra–Gries as streaming state per finalized tumbling
      // hour over the unbounded user keyspace — the candidate-LISTING
      // streaming heavy hitter H37's CMS cannot be. Gate = I35's
      // deterministic bounds per window's top-3 exact user: a listed
      // candidate must satisfy est ≤ true and (true−est)·(k+1) ≤ n;
      // an absent one is legitimate ONLY while true·(k+1) ≤ n (below
      // the survival guarantee); zero guaranteed-survivors missing.
      val t = Tables(s, dir)
      val k = 32
      // the window dim comes from the PRE-explode frame: a window
      // whose counters all decayed to zero emits an EMPTY summary
      // (legal MG — nobody beat n/(k+1)), and explode would silently
      // drop it from the gate
      val mat = StreamQueries.materialize(
          EventStream.tumblingFreq(
            StreamQueries.streamEvents(s, dir), "user_id", k,
            "1 hour", "2 hours"))
        .localCheckpoint() // feeds the window dim, the check, and missed
      val cand = mat
        .select(col("window_start"), explode(col("st")).as("c"))
        .select(col("window_start"), col("c.w").as("item"),
          col("c.c").as("est"))
      val wins = broadcast(mat.select("window_start", "n"))
      val exact = t.events
        // mirrors tumblingFreq's null-key filter (ADVICE r14): neither
        // side counts a null user group
        .filter(col("user_id").isNotNull)
        .select(date_trunc("hour", col("ts")).as("window_start"),
          col("user_id").cast("string").as("item"))
        .groupBy("window_start", "item").agg(count(lit(1)).as("n_true"))
      val checked = exact
        .join(wins, "window_start")
        .join(cand, Seq("window_start", "item"), "left")
        .localCheckpoint()
      val missed = checked.groupBy("window_start")
        .agg(sum(when(col("est").isNull &&
          col("n_true") * (k + 1) > col("n"), 1L).otherwise(0L))
          .as("n_missed"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("window_start").orderBy(col("n_true").desc, col("item"))
      checked
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .join(broadcast(missed), "window_start")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("item"), col("n_true"),
          when(col("est").isNotNull,
            col("est") <= col("n_true") &&
              (col("n_true") - col("est")) * (k + 1) <= col("n"))
            .otherwise(col("n_true") * (k + 1) <= col("n")).as("est_ok"),
          col("n_missed"))
    }),
    "q61_stream_sessions" -> ((s, dir) => {
      // streaming gap sessionization (session_window): finalized
      // sessions only (end = last event + gap ≤ max event time − 2h)
      StreamQueries.materialize(
          EventStream.sessionCounts(
            StreamQueries.streamEvents(s, dir), "30 minutes", "2 hours"))
        .select(col("user_id"), col("n_events"),
          unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"))
    }),
    "q128_stream_dynamic_sessions" -> ((s, dir) => {
      // dynamic-gap streaming sessionization: the idle timeout is an
      // expression of the event (purchase 60 min, else 20); finalized
      // sessions only, gated by the interval-merge batch replay
      StreamQueries.materialize(
          EventStream.sessionCountsDynamicGap(
            StreamQueries.streamEvents(s, dir), "2 hours"))
        .select(col("user_id"), col("n_events"),
          unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"))
    }),
    "q62_stream_dedup" -> ((s, dir) => {
      // streaming exact dedup; the watermark outlives the replay so no
      // state expires and the surviving KEY SET (projected here) is
      // exactly the distinct keys, however the input is micro-batched
      StreamQueries.materialize(
          EventStream.dedupeExact(StreamQueries.streamEvents(s, dir),
            Seq("user_id", "event_type"), watermark = "3650 days"))
        .select("user_id", "event_type")
    }),
    "q318_stream_neardup" -> ((s, dir) => {
      // H58 streaming near-dup suppression: documents replayed through
      // the per-bucket keeper processor (state = ONE long per LSH
      // bucket), reduced to the split-invariant kept set — a doc
      // survives iff no band bucket of its has a smaller member (the
      // batch minhash keeper rule, which the oracle replays).
      DedupStream.keptDocs(StreamQueries.materialize(
        DedupStream.bucketKeepers(StreamQueries.streamTable(s, dir, "documents")),
        mode = "update"))
    }),
    "q63_stream_assoc" -> ((s, dir) => {
      // the flagship chain's streaming twin: cumulative top-K harmonic
      // scores via mapGroupsWithState, reduced to the final state per
      // (pair, source) — batch-split-invariant because the top-K
      // multiset and evidence count are order-independent
      import s.implicits._
      val ev = StreamQueries.streamEvidence(s, dir)
        .as[AssociationStream.EvidenceEvent]
      val updates = StreamQueries.materialize(
        AssociationStream.cumulativeScores(ev), mode = "update")
      StreamQueries.latestByKey(updates,
          Seq("diseaseId", "targetId", "datasourceId"), "n_evidence")
        .withColumn("score", round(col("score"), 4))
    }),
    "q170_stream_peaks" -> ((s, dir) => {
      // H7 streaming novelty-peak detection END-TO-END: Append-mode
      // flatMapGroupsWithState fires whenever a key's cumulative top-K
      // harmonic rises above its previous batch value. WHICH batches
      // fire depends on the micro-batch split by design, but the
      // harmonic is monotone nondecreasing in the evidence multiset,
      // so the MAX emitted score per key equals the final cumulative
      // score and the emitting keys are exactly {harmonic > 0} — both
      // split-invariant (the q65 slice pattern), gated by the batch
      // harmonic oracle.
      import s.implicits._
      val ev = StreamQueries.streamEvidence(s, dir)
        .as[AssociationStream.EvidenceEvent]
      val peaks = StreamQueries.materialize(
        AssociationStream.noveltyPeaks(ev).toDF(), mode = "append")
      peaks.groupBy("diseaseId", "targetId", "datasourceId")
        .agg(round(max(col("score")), 4).as("peak_score"))
    }),
    "q85_stream_join" -> ((s, dir) => {
      // stream–stream correlation: every purchase matched to the same
      // user's clicks in the preceding hour, both sides live streams
      // with watermarks + an event-time range bounding the join state.
      // The watermark outlives the replay (cf. q62), so the match set
      // equals the batch join however the input is micro-batched.
      purchasesJoinClicks(s, dir)(
        EventStream.streamStreamJoin(_, _, range = "1 hour", watermark = "3650 days"))
    }),
    "q296_stream_semi" -> ((s, dir) => {
      // H54 stream–stream LEFT SEMI: purchases QUALIFIED by a click in
      // the preceding hour — each purchase emits at most once, no
      // fan-out per matching click (the inner join q85 emits one row
      // per match). Watermark outlives the replay, so the set equals
      // the batch EXISTS semi-join under any micro-batching.
      purchasesJoinClicks(s, dir)(
        EventStream.streamStreamSemiJoin(_, _, range = "1 hour", watermark = "3650 days"))
    }),
    "q123_stream_ivm" -> ((s, dir) => {
      // streaming IVM: every micro-batch folds its mergeable state
      // into a persisted parquet rollup (foreachBatch, alternating
      // state dirs); exact integer cents make the fold
      // split-invariant, so the batch aggregate oracle gates the
      // whole refresh loop
      val ev = StreamQueries.streamEvents(s, dir)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("v_i"))
      StreamQueries.incrementalStateReplay(ev, Seq("user_id"), "v_i")
        .select(col("user_id"), col("st_n").as("n"),
          round(col("st_sum").cast("double") / 100, 4).as("sum_v"),
          round(col("st_min").cast("double") / 100, 4).as("min_v"),
          round(col("st_max").cast("double") / 100, 4).as("max_v"))
    }),
    "q117_stream_outer" -> ((s, dir) => {
      // stream-stream LEFT OUTER join end-to-end: purchases with and
      // WITHOUT a same-user click in the preceding hour, null rows
      // emitted by real watermark-driven state expiry. Registered
      // slice = left events ≥ watermark+range behind both sides' max
      // event time, whose outer verdict no micro-batch split can
      // change — so the batch left-join oracle gates it exactly.
      finalVerdicts(s, dir, purchasesJoinClicks(s, dir)(
        EventStream.streamStreamLeftJoin(_, _, range = "1 hour", watermark = "1 hour")))(
        col("l_ts_us") <= _)
    }),
    "q323_stream_right_outer" -> ((s, dir) => {
      // H59 stream-stream RIGHT OUTER join end-to-end: clicks WITH
      // and WITHOUT a same-user purchase in the following hour
      // ("clicks that never converted" — the mirror of q117), null
      // rows emitted by real watermark-driven state expiry.
      // Registered slice = right events ≥ watermark+range behind both
      // sides' max event time, whose outer verdict no micro-batch
      // split can change — the batch right-join oracle gates exactly.
      finalVerdicts(s, dir, purchasesJoinClicks(s, dir)(
        EventStream.streamStreamRightJoin(_, _, range = "1 hour", watermark = "1 hour")))(
        // strict <: at exact equality the global watermark equals
        // r.ts + range and outer-state eviction is strict at the
        // boundary, so the null-extended verdict for an == row may
        // not yet be emitted when the stream drains (ADVICE r13)
        col("r_ts_us") < _)
    }),
    "q65_stream_evict" -> ((s, dir) => {
      // H9 event-time state eviction END-TO-END: the EventTimeTimeout
      // variant of the cumulative chain runs with a real watermark and
      // per-key timeout registration. The horizon (200y) outlives the
      // data span, so no key evicts under ANY micro-batch split and
      // the final state is deterministic — the oracle gates the same
      // result as the non-evicting twin while the eviction machinery
      // (watermark clock, setTimeoutTimestamp, hasTimedOut) executes.
      import s.implicits._
      val ev = StreamQueries.evidence(StreamQueries.streamTable(s, dir, "lineitem"),
          col("l_shipdate").cast("timestamp").as("ts"))
        .as[AssociationStream.TimedEvidenceEvent]
      val updates = StreamQueries.materialize(
        AssociationStream.cumulativeScoresEvicting(ev,
          // the watermark outlives the replayed span (cf. q62), so no
          // batch split can mark a row late; the timeout still
          // registers against the real watermark clock
          watermark = "3650 days", evictAfterMs = 200L * 365 * 24 * 3600 * 1000),
        mode = "update")
      StreamQueries.latestByKey(updates,
          Seq("diseaseId", "targetId", "datasourceId"), "n_evidence")
        .withColumn("score", round(col("score"), 4))
    }),
    "q172_attribution" -> ((s, dir) => {
      // H28 last-touch attribution: purchases credited to the latest
      // same-user click/view within 7 days via ONE as-of sort-merge
      // pass — never a windowed self-join of the event table
      val t = Tables(s, dir)
      EventWindows.attribution(t.events)
    }),
    "q180_funnel_timing" -> ((s, dir) => {
      // H29 time-to-convert distribution over q95's funnel: exact
      // interpolated percentiles of (t_conv − t_first) for converted
      // users — the "how fast" report the step counts can't answer
      val t = Tables(s, dir)
      EventWindows.funnel(t.events, Seq("view", "click", "purchase"))
        .filter(col("t_conv_us").isNotNull)
        .withColumn("d", col("t_conv_us") - col("t_first_us"))
        .agg(count(lit(1)).as("n_converted"),
          // report in DAYS: percentile interpolation noise is ~1e-4 us
          // absolute, far beyond 4dp at 1e11-us magnitudes; /8.64e10
          // pushes it to 1e-15 of the 4dp day grain on both engines
          round(expr("percentile(d, 0.5)") / 86400e6, 4).as("p50_days"),
          round(expr("percentile(d, 0.9)") / 86400e6, 4).as("p90_days"),
          round(avg(col("d")) / 86400e6, 4).as("avg_days"))
    }),
    "q184_new_returning" -> ((s, dir) => {
      // H30 daily new-vs-returning actives: first-seen day per user
      // and the (user, day) activity grain share one hash(user)
      // exchange; the day rollup runs on the user-day frame
      val t = Tables(s, dir)
      val ev = t.events.select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      val firstDay = ev.groupBy("user_id").agg(min("day").as("first_day"))
      ev.distinct().join(firstDay, Seq("user_id"))
        .groupBy("day")
        .agg(count(lit(1)).as("active_users"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("new_users"))
        .withColumn("returning_users", col("active_users") - col("new_users"))
    }),
    "q186_interarrival" -> ((s, dir) => {
      // H31 event-cadence report: per event type, the distribution of
      // consecutive-event gaps within each (user, type) series —
      // exact long micros, lag window on the series exchange
      val t = Tables(s, dir)
      EventWindows.interArrival(t.events)
    }),
    "q220_cohort_ltv" -> ((s, dir) => {
      // H36 cohort lifetime-value matrix: first-seen-week cohorts,
      // cumulative revenue per user as each cohort ages
      val t = Tables(s, dir)
      EventWindows.cohortLtv(t.events)
    }),
    "q250_entropy_rate" -> ((s, dir) => {
      // H47 sequence predictability: entropy rate + perplexity of
      // the empirical transition matrix (the bits behind H40's floor)
      val t = Tables(s, dir)
      EventWindows.entropyRate(t.events)
    }),
    "q251_bot_flags" -> ((s, dir) => {
      // H48 cadence-regularity flags: busy users whose inter-arrival
      // CV is low for this corpus (timers, not people)
      val t = Tables(s, dir)
      EventWindows.botFlags(t.events, minEvents = 20, maxCv = 0.9)
    }),
    "q247_daily_bands" -> ((s, dir) => {
      // H44 daily p10/p50/p90 envelope of event values — the spread
      // view a daily mean hides
      val t = Tables(s, dir)
      EventWindows.dailyQuantileBands(t.events)
    }),
    "q248_mix_shift" -> ((s, dir) => {
      // H45 daily JS divergence of the event-type mix vs the corpus
      // baseline — the one-number-per-day composition drift monitor
      val t = Tables(s, dir)
      EventWindows.mixShift(t.events)
    }),
    "q249_audience_overlap" -> ((s, dir) => {
      // H46 audience Jaccard per event-type pair — do these features
      // share users?
      val t = Tables(s, dir)
      EventWindows.audienceOverlap(t.events)
    }),
    "q246_stream_srm" -> ((s, dir) => {
      // H43 streaming experiment integrity: per finalized hour, the
      // arm split's one-df chi-square against 50/50 (F41's gate run
      // continuously — a mid-experiment assignment break shows up in
      // THAT hour, not at readout)
      val wins = StreamQueries.materialize(
        EventStream.tumblingGroupCounts(
          StreamQueries.streamEvents(s, dir), parityArm))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      wins.groupBy("window_start")
        .agg(
          coalesce(sum(when(col("grp") === "A", col("n"))), lit(0L)).as("n_a"),
          coalesce(sum(when(col("grp") === "B", col("n"))), lit(0L)).as("n_b"))
        .withColumn("__e", d(col("n_a") + col("n_b")) * 0.5)
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n_a"), col("n_b"),
          round((d(col("n_a")) - col("__e")) * (d(col("n_a")) - col("__e")) / col("__e") +
            (d(col("n_b")) - col("__e")) * (d(col("n_b")) - col("__e")) / col("__e"), 4)
            .as("chi2"))
        .withColumn("srm", col("chi2") > 3.8415)
    }),
    "q239_cum_hazard" -> ((s, dir) => {
      // H41 Nelson-Aalen cumulative conversion hazard on the q144
      // survival frame — the additive risk view per first-action
      // cohort
      val t = Tables(s, dir)
      val subjects = cohortSubjects(t)
      EventWindows.cumulativeHazard(subjects, Seq("cohort"))
    }),
    "q240_churn_labels" -> ((s, dir) => {
      // H42 supervised churn labels: pre-cutoff actives labeled by
      // whether they return in the trailing 7-day window (the
      // testdata spans ~30 days; a 30-day window would empty W1)
      val t = Tables(s, dir)
      EventWindows.churnLabels(t.events, observationDays = 7)
    }),
    "q235_transition_acc" -> ((s, dir) => {
      // H40 majority-transition baseline accuracy over user event
      // sequences — the floor any sequence model must beat
      val t = Tables(s, dir)
      EventWindows.transitionAccuracy(t.events)
    }),
    "q228_decay_score" -> ((s, dir) => {
      // H38 recency-weighted engagement score: value·2^(−age_days)
      // per user, exact shift-based decay, corpus-anchored
      val t = Tables(s, dir)
      EventWindows.decayScore(t.events)
    }),
    "q229_burst_audit" -> ((s, dir) => {
      // H39 rate-limit audit: each user's peak trailing-60s arrival
      // count with its first instant, users peaking >= 2
      val t = Tables(s, dir)
      EventWindows.burstAudit(t.events)
    }),
    "q224_stream_cms" -> ((s, dir) => {
      // H37 streaming heavy hitters: the CMS counter matrix as
      // per-window streaming state, point-estimated per event type
      // against the finalized windows (counter addition = exact
      // merge, so any micro-batch split emits the same sketch)
      val t = Tables(s, dir)
      val wins = StreamQueries.materialize(
        EventStream.tumblingCms(StreamQueries.streamEvents(s, dir)))
      val types = t.events.select(col("event_type")).distinct()
      wins.crossJoin(broadcast(types))
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n"), col("event_type"),
          graft.functions.CmsSketch.cmsEstimate(col("sk"), col("event_type"))
            .as("cms_n"))
    }),
    "q209_trending" -> ((s, dir) => {
      // H35 daily top-3 trending event types with rank movement since
      // each item's previous appearance
      val t = Tables(s, dir)
      EventWindows.trending(t.events)
    }),
    "q202_stickiness" -> ((s, dir) => {
      // H33 DAU/WAU/MAU + stickiness ratios from one user-day grain
      // with bounded offset fans — never a distinct-over-window
      val t = Tables(s, dir)
      EventWindows.stickiness(t.events)
    }),
    "q203_funnel_steps" -> ((s, dir) => {
      // H34 step-level funnel report over H14's per-user frame:
      // reach counts + step-to-step conversion on a 4-row spine
      val t = Tables(s, dir)
      val f = EventWindows.funnel(t.events, Seq("view", "click", "purchase"))
      val counts = f.groupBy("steps_completed").agg(count(lit(1)).as("__n"))
      val spine = s.range(0, 4).select(col("id").cast("int").as("step"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("step")
      spine.join(counts, col("steps_completed") >= col("step"), "left")
        .groupBy("step")
        .agg(coalesce(sum(col("__n")), lit(0L)).as("n_reached"))
        .withColumn("conv",
          round(col("n_reached").cast("double") / lag(col("n_reached"), 1).over(w), 4))
    }),
    "q200_concurrency" -> ((s, dir) => {
      // H32 peak simultaneous open shipments per supplier: sweep-line
      // over [ship_day, ship_day + quantity days) intervals
      val t = Tables(s, dir)
      val day = expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
      val iv = t.lineitem.select(col("l_suppkey"), day.as("s"),
        (day + col("l_quantity").cast("long")).as("e"))
      EventWindows.maxConcurrency(iv, Seq("l_suppkey"), "s", "e")
    }),
    "q271_stream_full_outer" -> ((s, dir) => {
      // H49 stream-stream FULL OUTER join end-to-end: purchase/click
      // pairs PLUS unmatched rows from BOTH sides, null-extended by
      // real watermark-driven state expiry. Registered slice = rows
      // whose driving event time (l.ts, else r.ts — the range
      // predicate forces r.ts <= l.ts on matches) is >= watermark +
      // range behind both sides' max event time, so no micro-batch
      // split can change any verdict and the batch full-join oracle
      // gates it exactly.
      finalVerdicts(s, dir, purchasesJoinClicks(s, dir)(
        EventStream.streamStreamFullJoin(_, _, range = "1 hour", watermark = "1 hour")))(
        coalesce(col("l_ts_us"), col("r_ts_us")) <= _)
    }),
    "q277_stream_tws" -> ((s, dir) => {
      // H50 transformWithState running totals on the RocksDB state
      // store — Spark 4's arbitrary-stateful API replayed
      // AvailableNow. Exact integer-cent state is micro-batch-split
      // invariant, so the batch aggregate oracles it; Update mode
      // emits per touched batch and the final (max-n) row per key is
      // the state. The replay runner picks the store from the plan.
      val out = StreamQueries.materialize(
        EventStream.runningTotalsTws(streamTypedEvents(s, dir)), mode = "update")
      out.groupBy("user_id")
        .agg(max(struct(col("n_events"), col("total_cents"))).as("st"))
        .select(col("user_id"), col("st.n_events").as("n_events"),
          col("st.total_cents").as("total_cents"))
    }),
    "q279_lateness" -> ((s, dir) => {
      // H51 watermark-lateness audit. This corpus ships time-sorted,
      // so the replay simulates network reordering with a
      // DETERMINISTIC md5 arrival permutation — the audit arithmetic
      // (running max event time in arrival order, late = behind by
      // more than delta) is exercised end to end.
      val t = Tables(s, dir)
      val ev = t.events
        .filter(col("event_id").isNotNull && col("ts").isNotNull)
        .withColumn("__arr",
          md5(concat(col("event_id").cast("string"), lit(":arr"))))
      EventWindows.latenessAudit(ev, deltaS = 1800, arrivalCol = "__arr")
    }),
    "q290_stream_tws_list" -> ((s, dir) => {
      // H53 transformWithState LIST state: per-user ListState ledger
      // of the 3 cheapest (cents, event_id) events plus a ValueState
      // event counter, replayed AvailableNow on RocksDB. keep-K-min
      // is a lattice merge, so the final state is split-invariant and
      // the batch per-user top-K aggregate oracles it; n_seen is
      // monotone, so max(struct) picks the last emitted state.
      val out = StreamQueries.materialize(
        EventStream.minKLedgerTws(streamTypedEvents(s, dir), k = 3), mode = "update")
      out.groupBy("user_id")
        .agg(max(struct(col("n_seen"), col("k_kept"), col("sum_kept_cents")))
          .as("st"))
        .select(col("user_id"), col("st.n_seen").as("n_seen"),
          col("st.k_kept").as("k_kept"),
          col("st.sum_kept_cents").as("sum_kept_cents"))
    }),
    "q282_stream_tws_map" -> ((s, dir) => {
      // H52 transformWithState MAP state: per-user per-type counts in
      // a MapState (per-touched-entry RocksDB updates), replayed
      // AvailableNow; final (max-n) row per (user, type) is the state,
      // gated by the batch (user, type) aggregate.
      val out = StreamQueries.materialize(
        EventStream.perTypeCountsTws(streamTypedEvents(s, dir)), mode = "update")
      out.groupBy("user_id", "event_type")
        .agg(max(col("n_events")).as("n_events"))
    }),
  )

  /** events.parquet as the typed [[EventStream.Event]] stream. */
  private def streamTypedEvents(s: SparkSession, dir: String) =
    EventStream.typedEvents(StreamQueries.streamEvents(s, dir))

  /** `join` of the purchase (left) and click (right) halves of the
    * event stream, replayed to its memory sink.
    */
  private def purchasesJoinClicks(s: SparkSession, dir: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = StreamQueries.streamEvents(s, dir)
    StreamQueries.materialize(join(ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click")))
  }

  /** The rows of an outer stream-stream join replay whose verdict no
    * micro-batch split can change: `settled(cut_us)` holds when the
    * row's driving event time is watermark + range (2 h) behind both
    * sides' max event time. Output: user_id, left_id, right_id.
    */
  private def finalVerdicts(s: SparkSession, dir: String, out: DataFrame)(
      settled: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val cut = Tables(s, dir).events
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .agg((min("m") - 7200000000L).as("cut_us"))
    out.crossJoin(broadcast(cut))
      .filter(settled(col("cut_us")))
      .select("user_id", "left_id", "right_id")
  }

  val oracles: Seq[(String, String)] = Seq(
    "q40_window_tumbling" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q41_window_sliding" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)) - (h.h * INTERVAL 1 HOUR),
        |                '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events CROSS JOIN (VALUES (0), (1)) h(h)
        |GROUP BY 1, 2""".stripMargin,
    "q42_sessionize" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |gapped AS (
        |  SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM ev
        |),
        |flagged AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM gapped
        |),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        |FROM sess GROUP BY 1, 2""".stripMargin,
    "q43_json_extract" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events
        |)
        |SELECT event_type,
        |       CAST(count(k) AS BIGINT) AS n_k,
        |       round(avg(k), 4) AS avg_k,
        |       max(k) AS max_k,
        |       CAST(count(CASE WHEN k > 50 THEN 1 END) AS BIGINT) AS n_high
        |FROM ev GROUP BY 1""".stripMargin,
    "q103_session_transitions" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |gapped AS (
        |  SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM ev
        |),
        |flagged AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM gapped
        |),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged
        |),
        |pr AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id, session_id ORDER BY ts, event_id) AS to_type
        |  FROM sess
        |),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM c""".stripMargin,
    "q163_rfm" ->
      """WITH u AS (
        |  SELECT user_id, max(epoch_us(ts)) AS last_us,
        |         CAST(count(*) AS BIGINT) AS frequency,
        |         round(sum(value), 4) AS monetary
        |  FROM events GROUP BY 1
        |),
        |h AS (SELECT max(last_us) AS h FROM u),
        |s AS (
        |  SELECT user_id,
        |         CAST((h.h - last_us) // 86400000000 AS BIGINT) AS recency_days,
        |         frequency, monetary
        |  FROM u, h
        |),
        |t AS (
        |  SELECT list_transform(quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]),
        |                        x -> round(x, 4)) AS rt,
        |         list_transform(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]),
        |                        x -> round(x, 4)) AS ft,
        |         list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]),
        |                        x -> round(x, 4)) AS mt
        |  FROM s
        |)
        |SELECT user_id, recency_days, frequency, monetary,
        |       CAST(5 - len(list_filter(rt, x -> recency_days > x)) AS INT) AS r_score,
        |       CAST(1 + len(list_filter(ft, x -> frequency > x)) AS INT) AS f_score,
        |       CAST(1 + len(list_filter(mt, x -> monetary > x)) AS INT) AS m_score,
        |       CAST((5 - len(list_filter(rt, x -> recency_days > x))) * 100
        |          + (1 + len(list_filter(ft, x -> frequency > x))) * 10
        |          + (1 + len(list_filter(mt, x -> monetary > x))) AS INT) AS rfm
        |FROM s, t""".stripMargin,
    "q164_user_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1""".stripMargin,
    "q153_stream_ohlc" ->
      """WITH ev AS (
        |  SELECT event_type, value, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |),
        |mx AS (SELECT max(ts) AS mt FROM ev),
        |r AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, value,
        |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |           ORDER BY us, event_id) AS ra,
        |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |           ORDER BY us DESC, event_id DESC) AS rd
        |  FROM ev
        |),
        |w AS (
        |  SELECT ws, event_type,
        |         round(max(CASE WHEN ra = 1 THEN value END), 4) AS open,
        |         round(max(value), 4) AS high,
        |         round(min(value), 4) AS low,
        |         round(max(CASE WHEN rd = 1 THEN value END), 4) AS close,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       w.event_type, w.open, w.high, w.low, w.close, w.n
        |FROM w, mx WHERE w.ws + INTERVAL 1 HOUR <= mx.mt - INTERVAL 2 HOUR""".stripMargin,
    "q149_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bar, value,
        |         epoch_us(ts) AS us, event_id
        |  FROM events
        |),
        |r AS (
        |  SELECT event_type, bar, value,
        |         row_number() OVER (PARTITION BY event_type, bar
        |           ORDER BY us, event_id) AS ra,
        |         row_number() OVER (PARTITION BY event_type, bar
        |           ORDER BY us DESC, event_id DESC) AS rd
        |  FROM e
        |)
        |SELECT event_type, CAST(bar AS BIGINT) AS bar,
        |       round(max(CASE WHEN ra = 1 THEN value END), 4) AS open,
        |       round(max(value), 4) AS high,
        |       round(min(value), 4) AS low,
        |       round(max(CASE WHEN rd = 1 THEN value END), 4) AS close,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q144_kaplan_meier" ->
      s"""WITH $SurvivalRiskSql,
        |z AS (
        |  SELECT *,
        |    min(n_risk - d) OVER (PARTITION BY cohort ORDER BY duration
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mz,
        |    sum(CASE WHEN d > 0 AND d < n_risk
        |          THEN ln(1 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END)
        |      OVER (PARTITION BY cohort ORDER BY duration
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
        |  FROM w
        |)
        |SELECT cohort, duration, n_risk, d, c,
        |       round(CASE WHEN mz = 0 THEN 0.0 ELSE exp(sl) END, 4) AS surv
        |FROM z""".stripMargin,
    // Log-rank: q144's subject CTE, md5-coin arms; each per-time E1/V
    // term goes to integer micro-units via the engine-identical
    // floor(x·1e6 + 0.5) so the sums are order-free longs on both
    // sides; publication follows the integer-grain rounding rule.
    "q337_logrank" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
         |),
         |hz AS (SELECT max(us) AS hz FROM e),
         |u AS (
         |  SELECT user_id, min(us) AS t0,
         |         min(CASE WHEN event_type = 'purchase' THEN us END) AS tp
         |  FROM e GROUP BY 1
         |),
         |s AS (
         |  SELECT CASE WHEN (${HexBucketSql(
                    "md5(CAST(user_id AS VARCHAR) || ':lr')")}) % 2 = 0
         |              THEN 1 ELSE 0 END AS isa,
         |         CASE WHEN u.tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
         |         (coalesce(u.tp, hz.hz) - u.t0) // 86400000000 AS t
         |  FROM u CROSS JOIN hz
         |),
         |g AS (
         |  SELECT t,
         |         CAST(sum(CASE WHEN isa = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
         |         CAST(sum(isa) AS BIGINT) AS l1,
         |         CAST(sum(CASE WHEN isa = 0 THEN ev ELSE 0 END) AS BIGINT) AS d2,
         |         CAST(sum(1 - isa) AS BIGINT) AS l2
         |  FROM s GROUP BY 1
         |),
         |w AS (
         |  SELECT *,
         |    CAST(sum(l1) OVER () AS BIGINT) AS bn1,
         |    CAST(sum(l2) OVER () AS BIGINT) AS bn2,
         |    CAST(sum(l1) OVER ()
         |      - (sum(l1) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) - l1)
         |      AS BIGINT) AS n1t,
         |    CAST(sum(l2) OVER ()
         |      - (sum(l2) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) - l2)
         |      AS BIGINT) AS n2t
         |  FROM g
         |),
         |f AS (
         |  SELECT *, d1 + d2 AS dt, n1t + n2t AS nt
         |  FROM w WHERE d1 + d2 > 0
         |),
         |m AS (
         |  SELECT *,
         |    CAST(floor(CAST(dt AS DOUBLE) * n1t / nt * 1e6 + 0.5) AS BIGINT)
         |      AS e1us,
         |    CASE WHEN nt > 1 THEN
         |      CAST(floor(CAST(dt AS DOUBLE) * n1t * n2t * (nt - dt)
         |        / (CAST(nt AS DOUBLE) * nt * (nt - 1)) * 1e6 + 0.5) AS BIGINT)
         |      ELSE 0 END AS vus
         |  FROM f
         |),
         |a AS (
         |  SELECT CAST(max(bn1) AS BIGINT) AS n1, CAST(max(bn2) AS BIGINT) AS n2,
         |         CAST(sum(d1) AS BIGINT) AS o1,
         |         CAST(sum(e1us) AS BIGINT) AS e1us,
         |         CAST(sum(vus) AS BIGINT) AS vus
         |  FROM m
         |)
         |SELECT n1, n2, o1,
         |       CAST(round(e1us / 100.0) AS BIGINT) / 10000.0 AS e1,
         |       CAST(round(vus / 100.0) AS BIGINT) / 10000.0 AS v,
         |       CASE WHEN vus > 0
         |            THEN round((o1 - e1us / 1e6) / sqrt(vus / 1e6), 4) END AS z,
         |       CASE WHEN vus > 0
         |            THEN round(((o1 - e1us / 1e6) / sqrt(vus / 1e6))
         |                     * ((o1 - e1us / 1e6) / sqrt(vus / 1e6)), 4)
         |       END AS chi2
         |FROM a""".stripMargin,
    "q112_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |         epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS end_us
        |  FROM events
        |),
        |w AS (
        |  SELECT user_id, event_id, start_us, end_us,
        |         max(end_us) OVER (PARTITION BY user_id
        |           ORDER BY start_us, end_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv
        |),
        |f AS (
        |  SELECT user_id, start_us, end_us,
        |         CAST(sum(CASE WHEN pm IS NULL OR start_us > pm THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id
        |             ORDER BY start_us, end_us, event_id
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM w
        |)
        |SELECT user_id, island, min(start_us) AS start_us,
        |       max(end_us) AS end_us, CAST(count(*) AS BIGINT) AS n_intervals
        |FROM f GROUP BY 1, 2""".stripMargin,
    "q118_scd2" ->
      s"""WITH $Scd2VersionsSql
        |SELECT user_id, version, value, valid_from_us,
        |       lead(valid_from_us) OVER (PARTITION BY user_id
        |         ORDER BY version) AS valid_to_us,
        |       lead(valid_from_us) OVER (PARTITION BY user_id
        |         ORDER BY version) IS NULL AS is_current
        |FROM g""".stripMargin,
    // PIT replay: the q118 SCD-2 pipeline, probes shifted +30 min,
    // covering-version via the interval predicate (from <= t < to) —
    // equivalent to the as-of argmax because versions partition time.
    "q302_pit_join" ->
      s"""WITH $Scd2VersionsSql,
        |d AS (
        |  SELECT user_id, value, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY user_id
        |           ORDER BY version) AS valid_to_us
        |  FROM g
        |),
        |f AS (
        |  SELECT event_id, user_id, us + 1800000000 AS pts
        |  FROM e WHERE user_id IS NOT NULL
        |)
        |SELECT f.event_id, f.user_id, d.value AS state,
        |       d.valid_from_us AS state_from_us
        |FROM f LEFT JOIN d
        |  ON d.user_id = f.user_id AND d.valid_from_us <= f.pts
        | AND (d.valid_to_us IS NULL OR f.pts < d.valid_to_us)""".stripMargin,
    // dwell replay: the q118 SCD-2 pipeline, closed versions only,
    // exact micro-second durations, quantile_cont median (the q50
    // contract) rounded to whole micros.
    "q306_state_dwell" ->
      s"""WITH $Scd2VersionsSql,
        |d AS (
        |  SELECT user_id, value, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY user_id
        |           ORDER BY version) AS valid_to_us
        |  FROM g
        |),
        |sp AS (
        |  SELECT value, valid_to_us - valid_from_us AS dur
        |  FROM d WHERE valid_to_us IS NOT NULL
        |)
        |SELECT value, CAST(count(*) AS BIGINT) AS n_spells,
        |       CAST(sum(dur) AS BIGINT) AS total_dwell_us,
        |       round(CAST(sum(dur) AS DOUBLE) / count(*), 4) AS mean_dwell_us,
        |       CAST(round(quantile_cont(dur, 0.5)) AS BIGINT) AS median_dwell_us
        |FROM sp GROUP BY 1""".stripMargin,
    // streaming PIT replay: identical to q302 — the stream-static
    // interval join returns the batch as-of result by construction.
    "q304_stream_pit" ->
      s"""WITH $Scd2VersionsSql,
        |d AS (
        |  SELECT user_id, value, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY user_id
        |           ORDER BY version) AS valid_to_us
        |  FROM g
        |),
        |f AS (
        |  SELECT event_id, user_id, us + 1800000000 AS pts
        |  FROM e WHERE user_id IS NOT NULL
        |)
        |SELECT f.event_id, f.user_id, d.value AS state,
        |       d.valid_from_us AS state_from_us
        |FROM f LEFT JOIN d
        |  ON d.user_id = f.user_id AND d.valid_from_us <= f.pts
        | AND (d.valid_to_us IS NULL OR f.pts < d.valid_to_us)""".stripMargin,
    // Retention replay: identical fixed-width epoch periods (7-day
    // buckets of epoch_us — no calendar weeks), min-period cohorts,
    // distinct-user rollup per (cohort, offset).
    "q97_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 604800000000.0) AS BIGINT) AS period
        |  FROM events
        |),
        |coh AS (SELECT user_id, min(period) AS cohort_period FROM act GROUP BY 1),
        |sz AS (
        |  SELECT cohort_period, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
        |  FROM coh GROUP BY 1
        |),
        |ret AS (
        |  SELECT c.cohort_period, a.period - c.cohort_period AS offset,
        |         CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        |  FROM act a JOIN coh c USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT r.cohort_period, r.offset, r.n_active, s.n_cohort,
        |       round(CAST(r.n_active AS DOUBLE) / s.n_cohort, 4) AS rate
        |FROM ret r JOIN sz s USING (cohort_period)""".stripMargin,
    // Funnel replay: the same sequential-min chain as CTEs — step i's
    // completion is the min event time of its type at-or-after step
    // i−1's completion; users without a step-1 event score 0.
    "q95_funnel" ->
      s"""WITH $FunnelStepsSql,
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id,
        |       CAST(CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
        |            + CAST(t3 IS NOT NULL AS INT) AS INT) AS steps_completed,
        |       t1 AS t_first_us, t3 AS t_conv_us
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)""".stripMargin,
    "q64_stream_enrich" ->
      s"""WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |dim AS (
         |  SELECT event_type,
         |         CAST(${HexBucketSql("md5(event_type || ':w')")} % 9 + 1 AS DOUBLE)
         |           / CAST(10 AS DOUBLE) AS weight
         |  FROM (SELECT DISTINCT event_type FROM events)
         |),
         |mx AS (SELECT max(ts) AS mt FROM ev),
         |w AS (
         |  SELECT date_trunc('hour', ts) AS ws, ev.event_type,
         |         CAST(count(*) AS BIGINT) AS n, round(sum(value * weight), 4) AS wsum
         |  FROM ev JOIN dim USING (event_type) GROUP BY 1, 2
         |)
         |SELECT strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       w.event_type, w.n, w.wsum
         |FROM w, mx WHERE w.ws + INTERVAL 1 HOUR <= mx.mt - INTERVAL 2 HOUR""".stripMargin,
    "q60_stream_tumbling" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS mt FROM ev),
        |w AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |  FROM ev GROUP BY 1, 2
        |)
        |SELECT strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       w.event_type, w.n, w.sum_value
        |FROM w, mx WHERE w.ws + INTERVAL 1 HOUR <= mx.mt - INTERVAL 2 HOUR""".stripMargin,
    // Streaming-HLL oracle: the same per-window register replay as
    // q107, finalized-window filter as q60.
    "q109_stream_hll" ->
      s"""WITH ${HllChainSql("hw", "user_id",
            "date_trunc('hour', CAST(ts AS TIMESTAMP))", "ws")},
         |mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events),
         |b AS (
         |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1
         |)
         |SELECT strftime(b.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       b.n, round(h.est, 4) AS u_hll
         |FROM b JOIN hw_est h USING (ws), mx
         |WHERE b.ws + INTERVAL 1 HOUR <= mx.mt - INTERVAL 2 HOUR""".stripMargin,
    // Streaming-MG gate: the bounds are deterministic under any
    // micro-batch split, so the oracle is the exact top-3 users per
    // finalized window with all-true checks and zero misses.
    "q351_stream_freq" ->
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events),
        |cnt AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
        |         CAST(user_id AS VARCHAR) AS item,
        |         CAST(count(*) AS BIGINT) AS n_true
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
        |),
        |fin AS (
        |  SELECT cnt.* FROM cnt, mx
        |  WHERE cnt.ws + INTERVAL 1 HOUR <= mx.mt - INTERVAL 2 HOUR
        |),
        |top AS (
        |  SELECT ws, item, n_true,
        |         row_number() OVER (PARTITION BY ws
        |                            ORDER BY n_true DESC, item) AS rk
        |  FROM fin
        |)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       item, n_true, true AS est_ok, CAST(0 AS BIGINT) AS n_missed
        |FROM top WHERE rk <= 3""".stripMargin,
    // Streaming-KLL gate: the engine verifies the sketch contract
    // against its own one-pass exact ranks, so the oracle is the
    // finalized-window grid with exact counts and all-true flags —
    // any compaction/merge/state-restore defect flips ok or drifts n.
    "q345_stream_kll" ->
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events),
        |b AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |)
        |SELECT strftime(b.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       phi, b.n, true AS ok
        |FROM b
        |CROSS JOIN (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |                           CAST(0.9 AS DOUBLE)]) AS phi), mx
        |WHERE b.ws + INTERVAL 1 HOUR <= mx.mt - INTERVAL 2 HOUR""".stripMargin,
    // dynamic-gap replay: interval merge with running max end (an
    // early long-gap event can outlast the last event's window)
    "q128_stream_dynamic_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
        |         epoch_us(CAST(ts AS TIMESTAMP)) +
        |           CASE WHEN event_type = 'purchase' THEN 3600000000
        |                ELSE 1200000000 END AS e_us
        |  FROM events
        |),
        |mx AS (SELECT max(ts) AS mt FROM ev),
        |w AS (
        |  SELECT *, max(e_us) OVER (PARTITION BY user_id
        |    ORDER BY s_us, e_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM ev
        |),
        |f AS (
        |  SELECT *, CAST(sum(CASE WHEN pm IS NULL OR s_us >= pm THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM w
        |),
        |agg AS (
        |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |         min(s_us) AS start_us, max(e_us) AS end_us
        |  FROM f GROUP BY 1, 2
        |)
        |SELECT a.user_id, a.n_events, a.start_us, a.end_us
        |FROM agg a, mx
        |WHERE a.end_us <= epoch_us(mt - INTERVAL 2 HOUR)""".stripMargin,
    "q61_stream_sessions" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS mt FROM ev),
        |gapped AS (
        |  SELECT *, epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM ev
        |),
        |flagged AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM gapped
        |),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |),
        |agg AS (
        |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |         min(ts) AS start_ts, max(ts) + INTERVAL 30 MINUTE AS end_ts
        |  FROM sess GROUP BY 1, 2
        |)
        |SELECT a.user_id, a.n_events,
        |       CAST(epoch_us(a.start_ts) AS BIGINT) AS start_us,
        |       CAST(epoch_us(a.end_ts) AS BIGINT) AS end_us
        |FROM agg a, mx WHERE a.end_ts <= mx.mt - INTERVAL 2 HOUR""".stripMargin,
    "q62_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // Streaming near-dup replay: the batch minhash keeper rule — same
    // shingle/signature/banding chain as q31's oracle, keeper per
    // (band, bucket) = min id, kept = docs with no smaller bucket-mate.
    "q318_stream_neardup" ->
      s"""WITH $ShinglesSql,
         |sig AS (
         |  SELECT id, j, min(md5(CAST(j AS VARCHAR) || ':' || s)) AS m
         |  FROM (SELECT id, unnest(sh) AS s FROM shingled)
         |  CROSS JOIN (SELECT unnest(range(1, 13)) AS j) seeds
         |  GROUP BY id, j
         |),
         |banded AS (
         |  SELECT id, (j - 1) // 4 AS band,
         |         md5(string_agg(m, '|' ORDER BY j)) AS bucket
         |  FROM sig GROUP BY id, (j - 1) // 4
         |),
         |mins AS (
         |  SELECT band, bucket, min(id) AS fk FROM banded GROUP BY 1, 2
         |)
         |SELECT b.id AS doc_id
         |FROM banded b JOIN mins m ON b.band = m.band AND b.bucket = m.bucket
         |GROUP BY 1
         |HAVING max(CASE WHEN m.fk < b.id THEN 1 ELSE 0 END) = 0""".stripMargin,
    // the split-invariant H7 slice: max emitted peak = final cumulative
    // harmonic; emitting keys = {harmonic > 0} (filter on the UNROUNDED
    // harmonic, exactly the score > 0 emission condition)
    "q170_stream_peaks" ->
      s"""WITH $EvSql,
         |ranked AS (
         |  SELECT diseaseId, targetId, datasourceId, score,
         |         row_number() OVER (
         |           PARTITION BY diseaseId, targetId, datasourceId
         |           ORDER BY score DESC) AS rn
         |  FROM ev
         |),
         |h AS (
         |  SELECT diseaseId, targetId, datasourceId,
         |         sum(CASE WHEN rn <= 50 THEN score / (rn * rn) END)
         |           / 1.6449340668482264 AS hs
         |  FROM ranked GROUP BY 1, 2, 3
         |)
         |SELECT diseaseId, targetId, datasourceId, round(hs, 4) AS peak_score
         |FROM h WHERE hs > 0""".stripMargin,
    "q63_stream_assoc" ->
      s"""WITH $EvSql,
         |ranked AS (
         |  SELECT diseaseId, targetId, datasourceId, score,
         |         row_number() OVER (
         |           PARTITION BY diseaseId, targetId, datasourceId
         |           ORDER BY score DESC) AS rn,
         |         CAST(count(*) OVER (
         |           PARTITION BY diseaseId, targetId, datasourceId) AS BIGINT) AS n
         |  FROM ev
         |)
         |SELECT diseaseId, targetId, datasourceId, n AS n_evidence,
         |       round(sum(CASE WHEN rn <= 50 THEN score / (rn * rn) END)
         |             / 1.6449340668482264, 4) AS score
         |FROM ranked GROUP BY 1, 2, 3, n""".stripMargin,
    "q123_stream_ivm" ->
      """WITH e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v FROM events
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(v) AS DOUBLE) / 100, 4) AS sum_v,
        |       round(CAST(min(v) AS DOUBLE) / 100, 4) AS min_v,
        |       round(CAST(max(v) AS DOUBLE) / 100, 4) AS max_v
        |FROM e GROUP BY 1""".stripMargin,
    "q117_stream_outer" ->
      s"""WITH $FinalVerdictCutSql,
        |l AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |r AS (SELECT * FROM ev WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id
        |FROM l LEFT JOIN r ON l.user_id = r.user_id
        |  AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts
        |WHERE epoch_us(l.ts) <= (SELECT c FROM cut)""".stripMargin,
    // RIGHT-outer replay of the q117 shape: right-side null emission,
    // the cut on the RIGHT (outer-side) event time.
    "q323_stream_right_outer" ->
      s"""WITH $FinalVerdictCutSql,
        |l AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |r AS (SELECT * FROM ev WHERE event_type = 'click')
        |SELECT r.user_id, l.event_id AS left_id, r.event_id AS right_id
        |FROM l RIGHT JOIN r ON l.user_id = r.user_id
        |  AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts
        |WHERE epoch_us(r.ts) < (SELECT c FROM cut)""".stripMargin,
    "q85_stream_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |)
        |SELECT l.user_id,
        |       l.event_id AS left_id, r.event_id AS right_id
        |FROM ev l JOIN ev r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'purchase' AND r.event_type = 'click'
        | AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts""".stripMargin,
    // semi replay: EXISTS, not JOIN — at most one row per purchase
    "q296_stream_semi" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |)
        |SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us
        |FROM ev p
        |WHERE p.event_type = 'purchase'
        |  AND EXISTS (SELECT 1 FROM ev c
        |              WHERE c.event_type = 'click'
        |                AND c.user_id = p.user_id
        |                AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts)""".stripMargin,
    // eviction horizon outlives the replay, so the final state equals
    // the non-evicting twin's (q63) — same oracle
    "q65_stream_evict" ->
      s"""WITH $EvSql,
         |ranked AS (
         |  SELECT diseaseId, targetId, datasourceId, score,
         |         row_number() OVER (
         |           PARTITION BY diseaseId, targetId, datasourceId
         |           ORDER BY score DESC) AS rn,
         |         CAST(count(*) OVER (
         |           PARTITION BY diseaseId, targetId, datasourceId) AS BIGINT) AS n
         |  FROM ev
         |)
         |SELECT diseaseId, targetId, datasourceId, n AS n_evidence,
         |       round(sum(CASE WHEN rn <= 50 THEN score / (rn * rn) END)
         |             / 1.6449340668482264, 4) AS score
         |FROM ranked GROUP BY 1, 2, 3, n""".stripMargin,
    // Last-touch attribution: DuckDB's native ASOF LEFT JOIN picks the
    // same latest-touch-≤-conversion row the sort-merge as-of does;
    // the lookback is a post-filter on the matched gap (backward as-of
    // means the latest match is also the closest, so "latest within
    // horizon" ≡ "latest, nulled when beyond horizon").
    "q172_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type
        |  FROM events
        |),
        |conv AS (
        |  SELECT event_id, user_id, ts, value FROM ev
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |),
        |touch AS (
        |  SELECT user_id, ts, arg_max(event_type, event_id) AS channel
        |  FROM ev WHERE event_type IN ('click', 'view') GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT p.value,
        |         CASE WHEN t.ts IS NULL
        |                OR epoch_us(p.ts) - epoch_us(t.ts) > 604800000000
        |              THEN 'direct' ELSE t.channel END AS channel
        |  FROM conv p
        |  ASOF LEFT JOIN touch t ON p.user_id = t.user_id AND p.ts >= t.ts
        |)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
        |       round(sum(value), 4) AS attributed_value
        |FROM m GROUP BY 1""".stripMargin,
    // Funnel-timing replay: the q95 staged-min chain, then exact
    // interpolated percentiles of the conversion gap.
    "q180_funnel_timing" ->
      s"""WITH $FunnelStepsSql,
        |d AS (SELECT s3.user_id, t3 - t1 AS d
        |      FROM s3 JOIN s1 USING (user_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |       round(quantile_cont(d, 0.5) / 86400000000.0, 4) AS p50_days,
        |       round(quantile_cont(d, 0.9) / 86400000000.0, 4) AS p90_days,
        |       round(avg(d) / 86400000000.0, 4) AS avg_days
        |FROM d""".stripMargin,
    // New-vs-returning replay: distinct (user, day) grain, first day
    // per user, day rollup.
    "q184_new_returning" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id,
        |         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |  FROM events
        |),
        |fd AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1)
        |SELECT day, CAST(count(*) AS BIGINT) AS active_users,
        |       CAST(count(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
        |         AS new_users,
        |       CAST(count(*) - count(CASE WHEN day = first_day THEN 1 END)
        |            AS BIGINT) AS returning_users
        |FROM ev JOIN fd USING (user_id) GROUP BY 1""".stripMargin,
    // Inter-arrival replay: identical (ts, event_id) series order;
    // gaps exact long micros, seconds only at the 4dp projection.
    "q186_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |           OVER (PARTITION BY user_id, event_type
        |                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
        |  FROM events
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(round(CAST(sum(gap) AS DOUBLE) / count(*) / 100.0)
        |            AS BIGINT) / 10000.0 AS mean_gap_s,
        |       CAST(round(quantile_cont(gap, 0.5) / 100.0) AS BIGINT)
        |         / 10000.0 AS p50_gap_s,
        |       CAST(round(quantile_cont(gap, 0.9) / 100.0) AS BIGINT)
        |         / 10000.0 AS p90_gap_s,
        |       CAST(round(CAST(max(gap) AS DOUBLE) / 100.0) AS BIGINT)
        |         / 10000.0 AS max_gap_s
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,
    // Sweep-line replay: same half-open boundary order (t, d), same
    // ROWS cumsum, same (conc desc, t, d) argmax total order.
    "q200_concurrency" ->
      """WITH iv AS (
        |  SELECT l_suppkey, epoch_us(l_shipdate) // 86400000000 AS s,
        |         epoch_us(l_shipdate) // 86400000000
        |           + CAST(l_quantity AS BIGINT) AS e
        |  FROM lineitem
        |),
        |b AS (
        |  SELECT l_suppkey, u.t, u.d
        |  FROM iv, unnest([struct_pack(t := s, d := CAST(1 AS BIGINT)),
        |                   struct_pack(t := e, d := CAST(-1 AS BIGINT))]) AS r(u)
        |),
        |c AS (
        |  SELECT l_suppkey, t, d,
        |         sum(d) OVER (PARTITION BY l_suppkey ORDER BY t, d
        |                      ROWS UNBOUNDED PRECEDING) AS conc,
        |         CAST(count(*) OVER (PARTITION BY l_suppkey) // 2 AS BIGINT) AS n_intervals
        |  FROM b
        |),
        |rk AS (
        |  SELECT l_suppkey, n_intervals, conc, t,
        |         row_number() OVER (PARTITION BY l_suppkey
        |                            ORDER BY conc DESC, t, d) AS rnk
        |  FROM c
        |)
        |SELECT l_suppkey, n_intervals, CAST(conc AS BIGINT) AS peak, t AS peak_t
        |FROM rk WHERE rnk = 1""".stripMargin,
    // Stickiness replay: same user-day grain, same bounded offset
    // fans re-aggregated with exact distincts.
    "q202_stickiness" ->
      s"""WITH ud AS (
        |  SELECT DISTINCT user_id AS u,
        |         $DaySql AS d
        |  FROM events
        |),
        |dau AS (SELECT d AS day, CAST(count(DISTINCT u) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |wau AS (
        |  SELECT d + o AS day, CAST(count(DISTINCT u) AS BIGINT) AS wau
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) GROUP BY 1
        |),
        |mau AS (
        |  SELECT d + o AS day, CAST(count(DISTINCT u) AS BIGINT) AS mau
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 30)) AS o) GROUP BY 1
        |)
        |SELECT day, dau, wau, mau,
        |       round(CAST(dau AS DOUBLE) / wau, 4) AS dau_wau,
        |       round(CAST(dau AS DOUBLE) / mau, 4) AS dau_mau
        |FROM dau JOIN wau USING (day) JOIN mau USING (day)""".stripMargin,
    // Step-report replay: the q95 funnel CTEs re-aggregated on a
    // 0..3 spine with a lag-window conversion.
    "q203_funnel_steps" ->
      s"""WITH $FunnelStepsSql,
        |u AS (SELECT DISTINCT user_id FROM ev),
        |f AS (
        |  SELECT CAST(CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
        |              + CAST(t3 IS NOT NULL AS INT) AS INT) AS sc
        |  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |         LEFT JOIN s3 USING (user_id)
        |),
        |spine AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS step),
        |r AS (
        |  SELECT step, CAST(count(f.sc) AS BIGINT) AS n_reached
        |  FROM spine LEFT JOIN f ON f.sc >= spine.step GROUP BY 1
        |)
        |SELECT step, n_reached,
        |       round(CAST(n_reached AS DOUBLE)
        |             / lag(n_reached) OVER (ORDER BY step), 4) AS conv
        |FROM r""".stripMargin,
    // Trending replay: same (day, item) grain, same tie-broken ranks,
    // previous-appearance lag per item.
    "q209_trending" ->
      s"""WITH c AS (
        |  SELECT $DaySql AS day,
        |         event_type AS item, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT day, item, n,
        |         CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, item) AS BIGINT) AS rnk
        |  FROM c
        |),
        |l AS (
        |  SELECT day, item, n, rnk,
        |         lag(rnk) OVER (PARTITION BY item ORDER BY day) AS prev_rnk
        |  FROM r
        |)
        |SELECT day, item, n, rnk, prev_rnk, prev_rnk - rnk AS delta
        |FROM l WHERE rnk <= 3""".stripMargin,
    // Cohort-LTV replay: same first-seen min window, same integer-cent
    // revenue, same cohort-partitioned cumulative.
    "q220_cohort_ltv" ->
      s"""WITH f AS (
        |  SELECT user_id,
        |         $DaySql AS d,
        |         COALESCE(CAST(round(value * 100) AS BIGINT), 0) AS c
        |  FROM events
        |),
        |w AS (
        |  SELECT user_id, d, c, min(d) OVER (PARTITION BY user_id) AS fd
        |  FROM f
        |),
        |g AS (
        |  SELECT fd // 7 AS cohort_week, d // 7 - fd // 7 AS age_weeks,
        |         user_id, c
        |  FROM w
        |),
        |sizes AS (
        |  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM g GROUP BY 1
        |),
        |rev AS (
        |  SELECT cohort_week, age_weeks, CAST(sum(c) AS BIGINT) AS cents
        |  FROM g GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT r.cohort_week, r.age_weeks, s.n_users, r.cents,
        |         sum(r.cents) OVER (PARTITION BY r.cohort_week ORDER BY r.age_weeks
        |                            ROWS UNBOUNDED PRECEDING) AS cumc
        |  FROM rev r JOIN sizes s USING (cohort_week)
        |)
        |SELECT cohort_week, age_weeks, n_users,
        |       round(CAST(cents AS DOUBLE) / 100.0, 4) AS revenue,
        |       round(CAST(cumc AS DOUBLE) / 100.0 / n_users, 4) AS cum_ltv
        |FROM cum""".stripMargin,
    // Streaming-CMS replay: rebuild the identical per-window counters
    // (q91's md5 bucket arithmetic) over the FINALIZED windows (q60's
    // watermark rule), estimate = min over the d rows.
    "q224_stream_cms" ->
      s"""WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |mx AS (SELECT max(ts) AS mt FROM ev),
         |fin AS (
         |  SELECT date_trunc('hour', ts) AS ws, event_type FROM ev, mx
         |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mt - INTERVAL 2 HOUR
         |),
         |wn AS (SELECT ws, CAST(count(*) AS BIGINT) AS n FROM fin GROUP BY 1),
         |rows_i AS (SELECT unnest(range(0, 4)) AS ci),
         |bk AS (
         |  SELECT ws, ci, ${HexValSql("md5(ci || ':' || event_type)", 1, 6)} % 1024 AS b,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM fin CROSS JOIN rows_i GROUP BY 1, 2, 3
         |),
         |types AS (SELECT DISTINCT event_type FROM ev),
         |tb AS (
         |  SELECT wn.ws, wn.n, t.event_type, ci,
         |         ${HexValSql("md5(ci || ':' || t.event_type)", 1, 6)} % 1024 AS b
         |  FROM wn CROSS JOIN types t CROSS JOIN rows_i
         |)
         |SELECT strftime(tb.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       tb.n, tb.event_type,
         |       CAST(min(coalesce(bk.cnt, 0)) AS BIGINT) AS cms_n
         |FROM tb
         |LEFT JOIN bk ON bk.ws = tb.ws AND bk.ci = tb.ci AND bk.b = tb.b
         |GROUP BY 1, 2, 3""".stripMargin,
    // Decay-score replay: same integer day ages, same exact
    // shift-based 2^-age micro weights, HUGEINT contribution sums.
    "q228_decay_score" ->
      s"""WITH f AS (
        |  SELECT user_id, $DaySql AS d,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL
        |),
        |a AS (SELECT max(d) AS t FROM f),
        |w AS (
        |  SELECT user_id, c,
        |         CASE WHEN t - d <= 62
        |              THEN CAST(round(1e6 / CAST(CAST(1 AS BIGINT) << CAST(t - d AS INT) AS DOUBLE)) AS BIGINT)
        |              ELSE 0 END AS wu
        |  FROM f CROSS JOIN a
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       round(CAST(sum(CAST(c AS HUGEINT) * CAST(wu AS HUGEINT)) AS DOUBLE)
        |             / 1e6 / 100.0, 4) AS score
        |FROM w GROUP BY 1""".stripMargin,
    // Burst-audit replay: same half-open trailing RANGE frame, same
    // (count desc, t) argmax total order.
    "q229_burst_audit" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |),
        |c AS (
        |  SELECT user_id, us,
        |         count(*) OVER (PARTITION BY user_id ORDER BY us
        |                        RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS cnt,
        |         count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM e
        |),
        |r AS (
        |  SELECT user_id, n_events, cnt, us,
        |         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, us) AS rnk
        |  FROM c
        |)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(cnt AS BIGINT) AS peak, us AS peak_t_us
        |FROM r WHERE rnk = 1 AND cnt >= 2""".stripMargin,
    // Transition-accuracy replay: same lead pairs, same (n desc,
    // follower desc) argmax, exact counts.
    "q235_transition_acc" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events
        |),
        |p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM e
        |),
        |pp AS (SELECT from_type, nxt FROM p WHERE nxt IS NOT NULL),
        |m AS (SELECT from_type, nxt, CAST(count(*) AS BIGINT) AS n FROM pp GROUP BY 1, 2),
        |pred AS (
        |  SELECT from_type, nxt AS pred_type FROM (
        |    SELECT from_type, nxt,
        |           row_number() OVER (PARTITION BY from_type ORDER BY n DESC, nxt DESC) AS rn
        |    FROM m
        |  ) WHERE rn = 1
        |),
        |per AS (
        |  SELECT pp.from_type, pred.pred_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (pp.nxt = pred.pred_type) AS BIGINT) AS n_correct
        |  FROM pp JOIN pred USING (from_type) GROUP BY 1, 2
        |),
        |tot AS (SELECT sum(n) AS tn, sum(n_correct) AS tc FROM per)
        |SELECT from_type, pred_type, n, n_correct,
        |       round(CAST(n_correct AS DOUBLE) / n, 4) AS acc,
        |       round(CAST(tot.tc AS DOUBLE) / tot.tn, 4) AS micro_acc
        |FROM per CROSS JOIN tot""".stripMargin,
    // Cumulative-hazard replay: the q144 survival CTEs with the
    // micro-quantized d/n increments cumulated as exact longs.
    "q239_cum_hazard" ->
      s"""WITH $SurvivalRiskSql,
        |h AS (
        |  SELECT *,
        |    CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) * 1e6) AS BIGINT) AS hu
        |  FROM w
        |)
        |SELECT cohort, duration, n_risk, d, c,
        |       CAST(round(CAST(sum(hu) OVER (PARTITION BY cohort ORDER BY duration
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |             / 100.0) AS BIGINT) / 10000.0 AS cum_hazard
        |FROM h""".stripMargin,
    // Churn-label replay: same max-anchored cutoff, same side counts.
    "q240_churn_labels" ->
      s"""WITH f AS (
        |  SELECT user_id, $DaySql AS d
        |  FROM events
        |),
        |a AS (SELECT max(d) - 7 + 1 AS cut FROM f),
        |g AS (
        |  SELECT user_id,
        |         CAST(count(*) FILTER (d < cut) AS BIGINT) AS n_before,
        |         CAST(count(*) FILTER (d >= cut) AS BIGINT) AS n_after
        |  FROM f CROSS JOIN a GROUP BY 1
        |)
        |SELECT user_id, n_before, n_after, n_after = 0 AS churned
        |FROM g WHERE n_before > 0""".stripMargin,
    // Streaming-SRM replay: q60's finalized-window rule, parity arms,
    // the q233 chi-square per window.
    "q246_stream_srm" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |mx AS (SELECT max(ts) AS mt FROM ev),
        |fin AS (
        |  SELECT date_trunc('hour', ts) AS ws, user_id FROM ev, mx
        |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mt - INTERVAL 2 HOUR
        |),
        |g AS (
        |  SELECT ws,
        |         CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_a,
        |         CAST(count(*) FILTER (user_id % 2 <> 0) AS BIGINT) AS n_b
        |  FROM fin GROUP BY 1
        |),
        |c AS (
        |  SELECT ws, n_a, n_b, CAST(n_a + n_b AS DOUBLE) * 0.5 AS e
        |  FROM g
        |)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, n_a, n_b,
        |       round((CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e
        |             + (CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e, 4) AS chi2,
        |       round((CAST(n_a AS DOUBLE) - e) * (CAST(n_a AS DOUBLE) - e) / e
        |             + (CAST(n_b AS DOUBLE) - e) * (CAST(n_b AS DOUBLE) - e) / e, 4) > 3.8415 AS srm
        |FROM c""".stripMargin,
    // Daily-band replay: interpolated percentiles on integer cents at
    // day grain (the q50/q157 contract).
    "q247_daily_bands" ->
      s"""WITH f AS (
        |  SELECT $DaySql AS day,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT day, CAST(count(*) AS BIGINT) AS n,
        |       round(quantile_cont(c, 0.1) / 100.0, 4) AS p10,
        |       round(quantile_cont(c, 0.5) / 100.0, 4) AS p50,
        |       round(quantile_cont(c, 0.9) / 100.0, 4) AS p90
        |FROM f GROUP BY 1""".stripMargin,
    // Mix-shift replay: same (day, cat) grain, same 6dp per-category
    // JS contributions, same closed-form absent-mass remainder.
    "q248_mix_shift" ->
      s"""WITH g AS (
        |  SELECT $DaySql AS day,
        |         event_type AS cat, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |b AS (
        |  SELECT cat, CAST(sum(n) AS DOUBLE)
        |           / (SELECT CAST(sum(n) AS DOUBLE) FROM g) AS q
        |  FROM g GROUP BY 1
        |),
        |dt AS (SELECT day, CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY 1),
        |c AS (
        |  SELECT g.day, dt.t,
        |         CAST(g.n AS DOUBLE) / dt.t AS p, b.q,
        |         (CAST(g.n AS DOUBLE) / dt.t + b.q) / 2.0 AS m
        |  FROM g JOIN b USING (cat) JOIN dt ON dt.day = g.day
        |),
        |s AS (
        |  SELECT day, any_value(t) AS n,
        |         sum(round((p * ln(p / m) + q * ln(q / m)) / 2.0, 6)) AS js_present,
        |         sum(q) AS q_present
        |  FROM c GROUP BY 1
        |)
        |SELECT day, n,
        |       round(js_present + round((1.0 - q_present) / 2.0 * ln(2.0), 6), 4) AS js
        |FROM s""".stripMargin,
    // Audience-overlap replay: same distinct (user, cat) collapse,
    // same in-row canonical pairs, exact Jaccard.
    "q249_audience_overlap" ->
      """WITH pu AS (
        |  SELECT user_id, list_sort(list_distinct(list(event_type))) AS cats
        |  FROM events GROUP BY 1
        |),
        |pairs AS (
        |  SELECT p.a AS cat_a, p.b AS cat_b, CAST(count(*) AS BIGINT) AS n_both
        |  FROM (
        |    SELECT unnest(flatten(list_transform(cats, (x, i) ->
        |             list_transform(cats[i+1:], y -> struct_pack(a := x, b := y))))) AS p
        |    FROM pu
        |  ) GROUP BY 1, 2
        |),
        |marg AS (
        |  SELECT c AS cat, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(cats) AS c FROM pu) GROUP BY 1
        |)
        |SELECT p.cat_a, p.cat_b, ma.n AS n_a, mb.n AS n_b, p.n_both,
        |       round(CAST(p.n_both AS DOUBLE) / (ma.n + mb.n - p.n_both), 4) AS jaccard
        |FROM pairs p
        |JOIN marg ma ON ma.cat = p.cat_a
        |JOIN marg mb ON mb.cat = p.cat_b""".stripMargin,
    // Entropy-rate replay: same lead pairs, same 6dp cell
    // contributions over the states-squared table.
    "q250_entropy_rate" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events
        |),
        |p AS (
        |  SELECT event_type AS s,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM e
        |),
        |m AS (SELECT s, t, CAST(count(*) AS BIGINT) AS n FROM p WHERE t IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT s, t, n,
        |         sum(n) OVER (PARTITION BY s) AS ns,
        |         sum(n) OVER () AS nn
        |  FROM m
        |),
        |c AS (
        |  SELECT nn, s,
        |         round(-(CAST(n AS DOUBLE) / nn) * ln(CAST(n AS DOUBLE) / ns), 6) AS c
        |  FROM w
        |),
        |r AS (
        |  SELECT CAST(max(nn) AS BIGINT) AS n_transitions,
        |         CAST(count(DISTINCT s) AS BIGINT) AS n_states,
        |         round(sum(c), 4) AS entropy_rate
        |  FROM c
        |)
        |SELECT n_transitions, n_states, entropy_rate,
        |       round(exp(entropy_rate), 4) AS perplexity
        |FROM r""".stripMargin,
    // Bot-flag replay: same lag gaps, same exact moment CV, keep test
    // on the rounded value.
    "q251_bot_flags" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events
        |),
        |g AS (
        |  SELECT user_id,
        |         us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e
        |),
        |s AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(count(gap) AS BIGINT) AS ng,
        |         CAST(sum(gap) AS BIGINT) AS sg,
        |         sum(CAST(gap AS HUGEINT) * gap) AS qg
        |  FROM g GROUP BY 1
        |),
        |c AS (
        |  SELECT user_id, n_events,
        |         CAST(sg AS DOUBLE) / ng AS mean,
        |         round(sqrt(greatest(
        |                 (CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng)
        |                   / (ng - 1), 0.0))
        |               / (CAST(sg AS DOUBLE) / ng), 4) AS cv
        |  FROM s WHERE n_events >= 20 AND ng > 1 AND sg > 0
        |)
        |SELECT user_id, n_events,
        |       CAST(round(mean / 100.0) AS BIGINT) / 10000.0 AS mean_gap_s, cv
        |FROM c WHERE cv <= 0.9""".stripMargin,
    // FULL-outer replay of the q117 shape: both-side null emission,
    // same watermark+range cut on the driving (left, else right) time.
    "q271_stream_full_outer" ->
      s"""WITH $FinalVerdictCutSql,
        |l AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |r AS (SELECT * FROM ev WHERE event_type = 'click')
        |SELECT coalesce(l.user_id, r.user_id) AS user_id,
        |       l.event_id AS left_id, r.event_id AS right_id
        |FROM l FULL JOIN r ON l.user_id = r.user_id
        |  AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts
        |WHERE coalesce(epoch_us(l.ts), epoch_us(r.ts)) <= (SELECT c FROM cut)""".stripMargin,
    // transformWithState replay: the final RocksDB state per user is
    // the plain batch aggregate (exact integer cents).
    "q277_stream_tws" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events
        |WHERE value IS NOT NULL AND event_id IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // Lateness replay: same md5 arrival permutation, same per-type
    // running max, same 1800 s threshold.
    "q279_lateness" ->
      """WITH e AS (
        |  SELECT event_type,
        |         md5(CAST(event_id AS VARCHAR) || ':arr') AS arr,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |),
        |r AS (
        |  SELECT event_type, us,
        |         max(us) OVER (PARTITION BY event_type ORDER BY arr
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |  FROM e
        |),
        |b AS (
        |  SELECT event_type, greatest(coalesce(rm - us, 0), 0) AS behind FROM r
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) FILTER (behind > 1800000000) AS BIGINT) AS n_late,
        |       round(CAST(count(*) FILTER (behind > 1800000000) AS DOUBLE)
        |             / count(*), 4) AS late_frac,
        |       CAST(round(CAST(max(behind) AS DOUBLE) / 100.0) AS BIGINT)
        |         / 10000.0 AS max_lateness_s
        |FROM b GROUP BY 1""".stripMargin,
    // ListState replay: the final K-min ledger per user equals the
    // plain batch top-K-by-(cents, event_id) aggregate.
    "q290_stream_tws_list" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL AND user_id IS NOT NULL
        |),
        |r AS (
        |  SELECT user_id, cents,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY cents, event_id) AS rn
        |  FROM ev
        |)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_seen,
        |       CAST(count(*) FILTER (rn <= 3) AS BIGINT) AS k_kept,
        |       CAST(sum(cents) FILTER (rn <= 3) AS BIGINT) AS sum_kept_cents
        |FROM r GROUP BY 1""".stripMargin,
    // MapState replay: the final per-(user, type) entry equals the
    // plain batch count.
    "q282_stream_tws_map" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events
        |WHERE value IS NOT NULL AND event_id IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
  )
}
