package graft.streaming

import graft.GraftConf
import graft.functions.TopKBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.AssociationScore.byDatasource]]:
  * maintain, per (disease, target, datasource), the cumulative top-K
  * harmonic association score as evidence arrives.
  *
  * State per key is the same bounded [[TopKBuffer]] the batch window
  * aggregate uses — 50 doubles regardless of how much evidence a pair
  * has seen, so state size is O(keys), never O(evidence). Each
  * micro-batch emits the key's refreshed score (Update-mode semantics);
  * the batch engine's calendar densification has no streaming analogue
  * (there is no "year scaffold" in an unbounded stream — downstream
  * consumers snapshot scores at whatever cadence they need).
  */
object AssociationStream {

  final case class EvidenceEvent(
      diseaseId: Long, targetId: Long, datasourceId: String, score: Double)

  /** What both state shapes carry: the heap's backing values (≤ K
    * doubles) plus the total evidence count seen for the key.
    */
  sealed trait Carried {
    def scores: Array[Double]
    def n: Long
  }

  final case class ScoreState(scores: Array[Double], n: Long) extends Carried

  final case class ScoreUpdate(
      diseaseId: Long, targetId: Long, datasourceId: String,
      n_evidence: Long, score: Double)

  final case class PeakState(scores: Array[Double], n: Long, lastScore: Double)
      extends Carried

  final case class PeakEvent(
      diseaseId: Long, targetId: Long, datasourceId: String,
      score: Double, peak: Double)

  /** The one streaming score step, shared by the four functions below:
    * one key's micro-batch on top of its carried heap. It rebuilds the
    * heap, adds the batch's scores, re-scores (a key without evidence
    * scores 0.0), carries the heap on through `carry(heap, n, score)`
    * and returns the key's evidence count and score. With
    * `evictAfterMs`, a key whose event-time timeout fired is dropped
    * (None), and every update re-arms the timeout `evictAfterMs` past
    * the key's latest event time — measured from the key's own events
    * (watermark-lag-proof), and strictly above the current watermark,
    * or Spark rejects it.
    */
  private def step[E, S <: Carried](
      state: GroupState[S], batch: Iterator[E], k: Int, maxScore: Double,
      carry: (Array[Double], Long, Double) => S)(
      score: E => Double, eventMs: E => Long = (_: E) => 0L,
      evictAfterMs: Option[Long] = None): Option[(Long, Double)] = {
    if (state.hasTimedOut) { state.remove(); return None }
    val buf = new TopKBuffer(k)
    state.getOption.foreach(_.scores.foreach(buf.add))
    var n = state.getOption.map(_.n).getOrElse(0L)
    var maxTs = 0L
    batch.foreach { e =>
      buf.add(score(e)); n += 1
      maxTs = math.max(maxTs, eventMs(e))
    }
    val s = buf.harmonic(maxScore) match {
      case null => 0.0
      case v => v.asInstanceOf[Double]
    }
    state.update(carry(java.util.Arrays.copyOf(buf.heap, buf.size), n, s))
    evictAfterMs.foreach(ms => state.setTimeoutTimestamp(
      math.max(maxTs, state.getCurrentWatermarkMs() + 1) + ms))
    Some((n, s))
  }

  def cumulativeScores(
      evidence: Dataset[EvidenceEvent],
      k: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): DataFrame = {
    val spark = evidence.sparkSession
    import spark.implicits._
    evidence
      .groupByKey(e => (e.diseaseId, e.targetId, e.datasourceId))
      .mapGroupsWithState[ScoreState, ScoreUpdate](GroupStateTimeout.NoTimeout) {
        case ((d, t, src), batch, state: GroupState[ScoreState]) =>
          val (n, score) = step(state, batch, k, maxScore,
            (h, n, _) => ScoreState(h, n))(_.score).get
          ScoreUpdate(d, t, src, n, score)
      }
      .toDF()
  }

  /** Evidence event carrying event time, for the state-evicting
    * variants.
    */
  final case class TimedEvidenceEvent(
      diseaseId: Long, targetId: Long, datasourceId: String, score: Double,
      ts: java.sql.Timestamp)

  /** [[cumulativeScores]] with bounded state lifetime: the (pair,
    * source) keyspace is unbounded in production, so NoTimeout state
    * grows forever. A key quiet for `evictAfterMs` of EVENT time (the
    * watermark clock — deterministic, replay-safe; a processing-time
    * clock would evict different keys on every backfill) is dropped;
    * evidence arriving later rebuilds the key from scratch, exactly
    * like a first-seen key. Eviction loses the key's cumulative top-K
    * history by design — the tradeoff every watermark makes; size
    * `evictAfterMs` to the staleness the downstream consumer
    * tolerates.
    */
  def cumulativeScoresEvicting(
      evidence: Dataset[TimedEvidenceEvent],
      watermark: String = "2 hours",
      evictAfterMs: Long = 24L * 3600 * 1000,
      k: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): DataFrame = {
    val spark = evidence.sparkSession
    import spark.implicits._
    evidence
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.diseaseId, e.targetId, e.datasourceId))
      .flatMapGroupsWithState[ScoreState, ScoreUpdate](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        case ((d, t, src), batch, state: GroupState[ScoreState]) =>
          step(state, batch, k, maxScore, (h, n, _) => ScoreState(h, n))(
            _.score, _.ts.getTime, Some(evictAfterMs))
            .iterator.map { case (n, score) => ScoreUpdate(d, t, src, n, score) }
      }
      .toDF()
  }

  /** Streaming novelty-peak detector — the stream twin of
    * [[graft.operators.Novelty.peaks]]: emit an event whenever a key's
    * cumulative score rises above its previous value (the batch
    * engine's year-over-year `lag` becomes batch-over-batch state).
    * Emits nothing for batches that leave the score flat.
    *
    * One known difference: a key's first rise counts from a score of 0
    * here, so it is a peak even when it lands in the scaffold's first
    * year, where `Novelty.peaks`' `lag` is NULL (as in the reference)
    * and the batch side has no peak.
    */
  def noveltyPeaks(
      evidence: Dataset[EvidenceEvent],
      k: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): Dataset[PeakEvent] = {
    val spark = evidence.sparkSession
    import spark.implicits._
    evidence
      .groupByKey(e => (e.diseaseId, e.targetId, e.datasourceId))
      .flatMapGroupsWithState[PeakState, PeakEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case ((d, t, src), batch, state: GroupState[PeakState]) =>
          val last = state.getOption.map(_.lastScore).getOrElse(0.0)
          step(state, batch, k, maxScore, PeakState.apply)(_.score)
            .iterator.collect { case (_, score) if score > last =>
              PeakEvent(d, t, src, score, score - last) }
      }
  }

  /** [[noveltyPeaks]] with the same event-time state eviction as
    * [[cumulativeScoresEvicting]]: a key quiet past the horizon is
    * dropped; its next evidence starts a fresh peak history (the first
    * new score fires a peak from 0, like a first-seen key).
    */
  def noveltyPeaksEvicting(
      evidence: Dataset[TimedEvidenceEvent],
      watermark: String = "2 hours",
      evictAfterMs: Long = 24L * 3600 * 1000,
      k: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): Dataset[PeakEvent] = {
    val spark = evidence.sparkSession
    import spark.implicits._
    evidence
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.diseaseId, e.targetId, e.datasourceId))
      .flatMapGroupsWithState[PeakState, PeakEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case ((d, t, src), batch, state: GroupState[PeakState]) =>
          val last = state.getOption.map(_.lastScore).getOrElse(0.0)
          step(state, batch, k, maxScore, PeakState.apply)(
            _.score, _.ts.getTime, Some(evictAfterMs))
            .iterator.collect { case (_, score) if score > last =>
              PeakEvent(d, t, src, score, score - last) }
      }
  }
}
