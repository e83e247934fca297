package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured-Streaming twins of the batch event operators: the same
  * windowed aggregations over `readStream`, with watermarks bounding
  * state, plus stateful sessionization via flatMapGroupsWithState.
  *
  * The transforms are source-agnostic (they take the streaming
  * DataFrame), so tests drive them with MemoryStream and production
  * points them at Kafka/files without change.
  */
object EventStream {

  /** The one watermarked window aggregate: `events` watermarked on `ts`
    * (then `enrich`ed: a stream-static join must see the watermark),
    * grouped by the window column `win` and `keys`, aggregated by
    * `aggs`. Output: the window's `bounds` fields under their names,
    * then the keys and the aggregates in order.
    */
  private def windowAgg(events: DataFrame, watermark: String, win: Column, keys: Seq[Column],
      bounds: Seq[(String, String)], enrich: DataFrame => DataFrame = identity)(
      aggs: Column*): DataFrame = {
    val g = enrich(events.withWatermark("ts", watermark))
      .groupBy(win +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
    val w = g.columns.head
    g.select(bounds.map { case (f, as) => col(s"$w.$f").as(as) } ++
      g.columns.tail.map(col): _*)
  }

  /** [[windowAgg]] over tumbling windows, keyed by `window_start`. */
  private def tumbling(events: DataFrame, duration: String, watermark: String, keys: Column*)(
      aggs: Column*): DataFrame =
    windowAgg(events, watermark, window(col("ts"), duration), keys,
      Seq("start" -> "window_start"))(aggs: _*)

  /** [[windowAgg]] over per-user sessions closed by `gap`, as
    * (start_ts, end_ts, user_id, n_events).
    */
  private def sessions(events: DataFrame, gap: Column, watermark: String): DataFrame =
    windowAgg(events, watermark, session_window(col("ts"), gap), Seq(col("user_id")),
      Seq("start" -> "start_ts", "end" -> "end_ts"))(count(lit(1)).as("n_events"))

  /** Tumbling-window counts/sums with a watermark bounding state. */
  def tumblingCounts(
      events: DataFrame,
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumbling(events, duration, watermark, col("event_type"))(
      count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** OHLC bars as STREAMING state: open/close are `min_by`/`max_by`
    * against the (event-time, event_id) struct — O(1) mergeable
    * aggregation state per window, so the state store carries five
    * scalars per (window, key) instead of the events. Append mode:
    * only finalized windows (end ≤ watermark) emit. Batch-split
    * invariant: the pick order is a TOTAL order over events, so any
    * micro-batch partition of the input merges to the same open/close
    * — which is what lets a plain batch query oracle the stream.
    */
  def tumblingOhlc(
      events: DataFrame,
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val ord = struct(unix_micros(col("ts")), col("event_id"))
    tumbling(events, duration, watermark, col("event_type"))(
      min_by(col("value"), ord).as("open"),
      max("value").as("high"),
      min("value").as("low"),
      max_by(col("value"), ord).as("close"),
      count(lit(1)).as("n"))
  }

  /** Approx-distinct users per tumbling window with the HLL sketch AS
    * STREAMING STATE: the TypedImperativeAggregate's serialize/merge
    * path runs inside the state store, so each window carries a 4 KB
    * register file across micro-batches instead of a distinct-user
    * set (exact streaming `countDistinct` is unsupported precisely
    * because its state is unbounded). Append mode — only finalized
    * windows emit, which no batch split can change; merge-exactness
    * of the sketch (elementwise register max) makes the result
    * batch-split-invariant too.
    */
  def tumblingDistinctSketch(
      events: DataFrame,
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumbling(events, duration, watermark)(
      count(lit(1)).as("n"),
      graft.functions.HllSketch.hllDistinct(col("user_id")).as("u_hll"))

  /** Tumbling counts by an arbitrary grouping EXPRESSION — the
    * generic monitoring primitive behind per-window integrity checks
    * (arm balance, source mix): same watermark/append contract as
    * [[tumblingCounts]], grouping by whatever the caller derives
    * from the event.
    */
  def tumblingGroupCounts(
      events: DataFrame,
      groupExpr: Column,
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumbling(events, duration, watermark, groupExpr.as("grp"))(count(lit(1)).as("n"))

  /** Count-min sketch AS STREAMING STATE per tumbling window — the
    * streaming heavy-hitter primitive: each (window) state row
    * carries the d×w counter matrix (32 KB) instead of per-key
    * counts, so the keyspace can be unbounded while state stays
    * fixed-size. Counter ADDITION is the merge, which is exact and
    * commutative — the emitted sketch is identical under ANY
    * micro-batch split, so a batch rebuild of the same counters
    * oracles the whole path. Append mode: finalized windows only.
    * Point-estimate downstream against a candidate dim (I7's
    * cmsEstimate projection).
    */
  def tumblingCms(
      events: DataFrame,
      keyCol: String = "event_type",
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumbling(events, duration, watermark)(
      count(lit(1)).as("n"),
      graft.functions.CmsSketch.cmsSketch(col(keyCol)).as("sk"))

  /** KLL quantile summary AS STREAMING STATE per tumbling window
    * (H61) — per-window percentiles over an unbounded value stream
    * with O(k) state: each window's state row carries ONE compactor
    * summary instead of the window's value multiset (the exact
    * streaming percentile is unsupported for precisely that reason —
    * unbounded state). Completes the streaming-sketch trio next to
    * H13b's HLL and H37's CMS. The compactor is NOT merge-order
    * invariant, so the gate is I34's sketch CONTRACT per finalized
    * window — summary n ≡ exact count, every φ estimate's exact rank
    * within ε — which holds under ANY micro-batch split. Append mode:
    * finalized windows only; quantile eval happens downstream on the
    * materialized summaries.
    */
  def tumblingKll(
      events: DataFrame,
      valueCol: String = "value",
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumbling(events.filter(col(valueCol).isNotNull), duration, watermark)(
      count(lit(1)).as("n"),
      graft.functions.KllSketch.kllState(col(valueCol)).as("st"))

  /** Misra–Gries frequent-items summary AS STREAMING STATE per
    * tumbling window (H62) — the candidate-LISTING streaming heavy
    * hitter, completing the streaming-sketch quartet (H13b HLL, H37
    * CMS point-estimates, H61 KLL quantiles): ≤k weighted counters
    * per window state row over an unbounded keyspace, where H37's CMS
    * can only point-estimate keys it is given. Counter insert ≡ merge
    * (I35), and the deterministic bounds est ≤ true and
    * (true−est)·(k+1) ≤ n hold under ANY micro-batch split — the
    * downstream gate publishes bound checks, never raw estimates.
    * Append mode: finalized windows only.
    */
  def tumblingFreq(
      events: DataFrame,
      keyCol: String = "user_id",
      k: Int = 32,
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    // null keys carry no frequency information and would reach the
    // sketch as a null string while the exact gate counts the null
    // group — filter here and mirror in the q351 exact side/oracle
    tumbling(events.filter(col(keyCol).isNotNull), duration, watermark)(
      count(lit(1)).as("n"),
      graft.functions.FreqSketch.freqSketch(col(keyCol).cast("string"),
        lit(1L), k).as("st"))

  /** Gap-based session aggregation using the built-in session_window —
    * the streaming twin of graft.operators.Sessionize.
    */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    sessions(events, lit(gap), watermark)

  /** DYNAMIC-gap session aggregation: the idle timeout is an
    * expression of the event itself (a purchase keeps the session
    * alive 60 minutes, anything else 20) — the engagement-weighted
    * sessionization real clickstream models use. Under the hood each
    * event opens the window [ts, ts+gap(event)) and overlapping
    * windows merge, so the batch replay is exactly the
    * gaps-and-islands interval merge (q112's machinery) with the
    * session end = the running MAX of window ends, not last-event+gap.
    */
  def sessionCountsDynamicGap(
      events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    sessions(events,
      when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("20 minutes")),
      watermark)

  /** Stream-static enrichment + tumbling weighted sums: broadcast-join
    * a static dimension (event_type → weight) onto the stream, then
    * aggregate per window. The canonical dimension-enrichment shape:
    * the static side is re-planned per micro-batch and broadcast, the
    * stream is never shuffled before the windowed aggregation.
    */
  def enrichedTumbling(
      events: DataFrame,
      dim: DataFrame,
      duration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    windowAgg(events, watermark, window(col("ts"), duration), Seq(col("event_type")),
      Seq("start" -> "window_start"), _.join(broadcast(dim), Seq("event_type")))(
      count(lit(1)).as("n"), sum(col("value") * col("weight")).as("wsum"))

  /** Streaming exact dedup: one surviving row per key (arbitrary within
    * a micro-batch, stable across batches), with state bounded by the
    * event-time watermark — the streaming analogue of
    * graft.operators.Dedup.exactRank's keeper selection.
    */
  def dedupeExact(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream–stream inner join: correlate two live event streams on a
    * key within an event-time range (here: a `left` event matched to
    * every `right` event of the same user in the preceding `range`).
    * Both sides carry watermarks so the join state is bounded in
    * production; the time-range predicate is what lets Spark expire
    * buffered rows. The emitted match set is batch-split-invariant
    * whenever the watermark outlives the replay (no row is ever late,
    * no state is evicted mid-replay) — which is how the oracle gates
    * it as a plain batch self-join.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      range: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    intervalJoin(left, right, range, watermark, "inner")
      .select(col("l.user_id").as("user_id"),
        col("l.event_id").as("left_id"), col("r.event_id").as("right_id"))

  /** The one watermarked interval join of the five stream–stream join
    * modes: `left` (alias `l`) and `right` (alias `r`), each
    * watermarked on `ts`, joined by `how` on the same user with r.ts in
    * [l.ts − `range`, l.ts]. Both watermarks plus the range are what
    * let Spark expire buffered rows; each mode keeps only its select.
    */
  private def intervalJoin(left: DataFrame, right: DataFrame, range: String, watermark: String,
      how: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      expr(s"""l.user_id = r.user_id AND
               r.ts BETWEEN l.ts - INTERVAL $range AND l.ts"""),
      how)
  }

  /** Streaming point-in-time enrichment — the STREAMING half of the
    * feature-store pattern (batch half: EventWindows.pointInTime):
    * each live event probes a STATIC SCD-2 dimension for the version
    * covering its (shifted) event time. A stream can't sort across
    * unbounded history, so the as-of formulation is out; against a
    * static dim the interval predicate is a stateless stream-static
    * LEFT join (broadcastable dim, append mode, no state store) and
    * returns the identical result — the same oracle gates both.
    */
  def streamPointInTime(
      events: DataFrame,
      dim: DataFrame,
      probeShiftUs: Long = 0L): DataFrame = {
    val f = events
      .filter(col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("ts")) + probeShiftUs).as("probe_us"))
    f.join(
        broadcast(dim.select(col("user_id").as("__k"), col("value"),
          col("valid_from_us"), col("valid_to_us"))),
        col("user_id") === col("__k") &&
          col("valid_from_us") <= col("probe_us") &&
          (col("valid_to_us").isNull || col("probe_us") < col("valid_to_us")),
        "left")
      .select(col("event_id"), col("user_id"),
        col("value").as("state"), col("valid_from_us").as("state_from_us"))
  }

  /** Stream–stream LEFT SEMI join — the fourth join mode alongside
    * inner/left-outer/full-outer: each `left` event emits AT MOST
    * ONCE, iff SOME same-user `right` event sits in the preceding
    * `range`. The "qualified events" filter a funnel wants when match
    * MULTIPLICITY is noise (an inner join emits one row per matching
    * right event; semi does not fan out, and Spark drops the matched
    * left row's state immediately instead of buffering it for more
    * matches). Same bounded-state mechanics: both watermarks + the
    * event-time range let buffered rows expire.
    */
  def streamStreamSemiJoin(
      left: DataFrame,
      right: DataFrame,
      range: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    intervalJoin(left, right, range, watermark, "left_semi")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))

  /** Stream–stream LEFT OUTER join: like [[streamStreamJoin]], but a
    * `left` event with no same-user `right` event in the preceding
    * `range` still emits (null-extended) — the "purchases with no
    * prior click" shape. Outer emission is watermark-driven: Spark
    * holds an unmatched left row until the watermark proves no future
    * right row can satisfy the range predicate, then emits the null
    * row in a (possibly no-data) later micro-batch. The left event
    * time rides along so callers can slice to rows whose outer
    * verdict is FINAL under any micro-batch split (l.ts at least
    * `watermark + range` behind both sides' max event time — the
    * global watermark is the min over sources).
    */
  def streamStreamLeftJoin(
      left: DataFrame,
      right: DataFrame,
      range: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(left, right, range, watermark, "left_outer")
      .select(col("l.user_id").as("user_id"),
        unix_micros(col("l.ts")).as("l_ts_us"),
        col("l.event_id").as("left_id"), col("r.event_id").as("right_id"))

  /** Stream–stream FULL OUTER join — completes the H13/H19 join
    * family: matched pairs emit eagerly; an unmatched row on EITHER
    * side emits null-extended once the watermark proves no partner
    * can still arrive (left holds `range + watermark` for a future
    * right; right holds `range + watermark` for a future left —
    * Spark derives both bounds from the range predicate and expires
    * state accordingly). Both event times ride along so callers can
    * slice to rows whose outer verdict is FINAL under any micro-batch
    * split: since the range predicate forces r.ts <= l.ts, the row's
    * driving time coalesce(l_ts, r_ts) at least `watermark + range`
    * behind both sides' max event time settles every case.
    */
  def streamStreamFullJoin(
      left: DataFrame,
      right: DataFrame,
      range: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(left, right, range, watermark, "full_outer")
      .select(coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
        unix_micros(col("l.ts")).as("l_ts_us"),
        unix_micros(col("r.ts")).as("r_ts_us"),
        col("l.event_id").as("left_id"), col("r.event_id").as("right_id"))

  /** Stream–stream RIGHT OUTER join — the mirror of
    * [[streamStreamLeftJoin]] and the last of the five watermarked
    * join modes (inner/left/full/semi/right): every `right` event
    * emits, null-extended when NO same-user `left` event follows it
    * within `range` — the "clicks that never converted" shape, where
    * the left-outer asks "purchases with no prior click". Spark holds
    * an unmatched right row until the watermark proves no future left
    * row can still satisfy the range predicate (l.ts ∈ [r.ts,
    * r.ts + range]), then emits the null row. The right event time
    * rides along so callers can slice to FINAL verdicts: r.ts at
    * least `watermark + range` behind both sides' max event time.
    */
  def streamStreamRightJoin(
      left: DataFrame,
      right: DataFrame,
      range: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    intervalJoin(left, right, range, watermark, "right_outer")
      .select(col("r.user_id").as("user_id"),
        unix_micros(col("r.ts")).as("r_ts_us"),
        col("l.event_id").as("left_id"), col("r.event_id").as("right_id"))

  final case class UserTotals(user_id: Long, n_events: Long, total_cents: Long)

  /** Exact-cent conversion matching the batch side's `round(value *
    * 100)`: SQL round (Spark and DuckDB alike) is half AWAY FROM ZERO,
    * while Scala `math.round` is half-up toward +infinity — they
    * disagree at negative half-cents (-2.5 -> -3 vs -2). BigDecimal
    * HALF_UP means away-from-zero; `BigDecimal(d)` uses the double's
    * canonical decimal rendering, the same convention as Spark's
    * `round` on doubles.
    */
  private[streaming] def toCents(v: Double): Long =
    BigDecimal(v * 100)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLongExact

  /** Spark 4's transformWithState port of [[runningTotals]] — the new
    * arbitrary-stateful-processing API (StatefulProcessor + typed
    * ValueState on the RocksDB state store) that replaces
    * mapGroupsWithState: explicit state declaration in init(), typed
    * get/update, TTL config, timers. Totals accumulate in EXACT
    * integer cents so the final state is identical under ANY
    * micro-batch split — which is how the batch aggregate oracle
    * gates the whole path. Update mode emits each key's running state
    * per touched batch; the caller keeps the last (max-n) row.
    */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Event, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTotals] = {
      var st = if (totals.exists()) totals.get() else UserTotals(key, 0L, 0L)
      rows.foreach { e =>
        st = UserTotals(key, st.n_events + 1,
          st.total_cents + toCents(e.value))
      }
      totals.update(st)
      Iterator.single(st)
    }
  }

  final case class UserTypeCount(user_id: Long, event_type: String, n_events: Long)

  /** transformWithState with MAP state — the keyed-sub-state shape
    * [[RunningTotalsProcessor]]'s single ValueState can't express:
    * per user, a MapState[event_type -> count] where each micro-batch
    * updates only the touched entries (RocksDB stores each map entry
    * as its own key, so a user with thousands of event types pays per
    * TOUCHED entry, not per map). Emits one row per (user, type)
    * updated in the batch; exact integer counts make the final state
    * micro-batch-split invariant.
    */
  class PerTypeCountsProcessor extends StatefulProcessor[Long, Event, UserTypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTypeCount] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { e =>
        val cur = touched.getOrElse(e.event_type,
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L)
        touched(e.event_type) = cur + 1
      }
      touched.foreach { case (t, n) => counts.updateValue(t, n) }
      touched.iterator.map { case (t, n) => UserTypeCount(key, t, n) }.toSeq.iterator
    }
  }

  def perTypeCountsTws(events: Dataset[Event]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    withState(events, (_: Event).user_id, new PerTypeCountsProcessor)
  }

  final case class LedgerEntry(cents: Long, event_id: Long)
  final case class UserLedger(
      user_id: Long, n_seen: Long, k_kept: Long, sum_kept_cents: Long)

  /** transformWithState with LIST state — the third Spark-4 state
    * primitive ([[RunningTotalsProcessor]] = ValueState,
    * [[PerTypeCountsProcessor]] = MapState): per user, a bounded
    * ledger of the K cheapest (cents, event_id) events seen so far.
    * ListState is the right store for a per-key ledger because RocksDB
    * appends entries individually (appendValue/appendList) instead of
    * rewriting one blob per update; here each batch rewrites at most K
    * entries via put(). keep-K-min is a lattice merge
    * (minK(minK(A) ∪ B) = minK(A ∪ B)), so the final state is
    * micro-batch-split invariant and the batch top-K query oracles it.
    *
    * TTL: when `ttl` is set (requires TimeMode.ProcessingTime), BOTH
    * states expire per RocksDB entry — an idle user's ledger and
    * counter vanish after the duration and the next batch restarts
    * from empty, which is the observable behavior StreamingSpec pins.
    */
  class MinKLedgerProcessor(k: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, Event, UserLedger] {
    @transient private var entries: org.apache.spark.sql.streaming.ListState[LedgerEntry] = _
    @transient private var seen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      entries = getHandle.getListState[LedgerEntry]("entries",
        org.apache.spark.sql.Encoders.product[LedgerEntry], ttl)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong, ttl)
    }
    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserLedger] = {
      val batch = rows
        .map(e => LedgerEntry(toCents(e.value), e.event_id)).toSeq
      val kept = (entries.get().toSeq ++ batch)
        .sortBy(e => (e.cents, e.event_id)).take(k)
      entries.put(kept.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + batch.size
      seen.update(n)
      Iterator.single(UserLedger(key, n, kept.size.toLong,
        kept.iterator.map(_.cents).sum))
    }
  }

  def minKLedgerTws(
      events: Dataset[Event],
      k: Int = 3,
      ttl: Option[java.time.Duration] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    withState(events, (_: Event).user_id,
      new MinKLedgerProcessor(k, ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)),
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None())
  }

  /** transformWithState requires the RocksDB state store.
    * [[StreamQueries]] replays pick it themselves (from the stream's
    * plan); a caller that starts its own query sets
    * `spark.sql.streaming.stateStore.providerClass` to it for the
    * query's start with [[withRocksDbStateStore]].
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the session's state-store provider set to
    * RocksDB, restoring the previous value after, under the same lock
    * as the replay runner's confs (a stream reads the provider once,
    * at start, so callers start their query inside `body`).
    */
  def withRocksDbStateStore[A](s: SparkSession)(body: => A): A =
    StreamQueries.withConfs(s, Seq(StreamQueries.StateStoreKey -> RocksDbProvider))(body)

  def runningTotalsTws(events: Dataset[Event]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    withState(events, (_: Event).user_id, new RunningTotalsProcessor)
  }

  /** The one transformWithState call of the stateful processors here
    * and in [[DedupStream]]: `rows` grouped by `key` through
    * `processor`, update mode.
    */
  private[streaming] def withState[K: Encoder, I, O: Encoder](rows: Dataset[I], key: I => K,
      processor: StatefulProcessor[K, I, O], timeMode: TimeMode = TimeMode.None()): DataFrame =
    rows.groupByKey(key).transformWithState(processor, timeMode, OutputMode.Update()).toDF()

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** An event frame as the typed [[Event]] stream the stateful
    * operators take: rows with a value, an event id and a user, in
    * [[Event]]'s columns.
    */
  private[graft] def typedEvents(events: DataFrame): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("value").isNotNull && col("event_id").isNotNull &&
        col("user_id").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event]
  }

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom state: running per-user totals via mapGroupsWithState.
    *
    * `evictAfter` ("1 hour") enables processing-time state eviction for
    * unbounded production streams; the default NoTimeout keeps micro-batch
    * scheduling data-driven (a registered timeout makes Spark fire empty
    * batches forever, so processAllAvailable would never converge in tests).
    */
  def runningTotals(
      events: Dataset[Event],
      evictAfter: Option[String] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](timeoutConf) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserRunning(uid, n, v)
          state.update(next)
          evictAfter.foreach(state.setTimeoutDuration)
          next
      }
      .toDF()
  }
}
