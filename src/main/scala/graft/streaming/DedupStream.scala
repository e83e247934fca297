package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** H58 streaming near-duplicate suppression — the near-dup completion
  * of [[EventStream.dedupeExact]] (H8, exact keys only): live documents
  * ride the SAME MinHash banding as the batch G2 path
  * (graft.operators.Dedup.minhashLshPairs — word shingles → k-element
  * signature → per-band bucket md5), and a per-bucket
  * `transformWithState` ValueState[Long] tracks the bucket's keeper so
  * an arriving document that lands in any already-claimed bucket is
  * recognized as a near-duplicate IN-STREAM.
  *
  * Scale shape: state per bucket is ONE long (the keeper id) — no
  * signatures, no shingle sets, no pair expansion ever enters the
  * state store, so a bucket of any size costs 8 bytes and the
  * per-batch work is linear in arriving band rows. The text itself
  * never crosses the stateful exchange: only (bucket-key, doc_id)
  * rows shuffle (the batch path's hash-only-exchange contract).
  *
  * Determinism contract (how the batch oracle gates this): the
  * in-stream drop decision ("a keeper already claimed my bucket") is
  * inherently arrival-order dependent, so the REGISTERED reduction is
  * the split-invariant slice — the final keeper per bucket is the
  * monotone min over all updates (= the batch rule "bucket keeper =
  * min doc_id"), and a document is kept iff NO bucket of its bands has
  * a smaller member ([[keptDocs]]). Any micro-batch split of the same
  * replay lands on the identical kept set (pinned in StreamingSpec).
  */
object DedupStream {

  final case class BandRow(bkey: String, doc_id: Long)
  final case class BucketUpdate(bkey: String, doc_id: Long, keeper: Long)

  /** Per-bucket keeper state: min doc_id ever seen in the bucket.
    * Emits one update per arriving band row carrying the keeper AFTER
    * folding the batch (intra-batch ties resolve by min, so the
    * emitted keeper is a pure function of the arrived-so-far set).
    */
  class BucketKeeperProcessor
      extends StatefulProcessor[String, BandRow, BucketUpdate] {
    @transient private var keeper: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      keeper = getHandle.getValueState[Long]("keeper",
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: String,
        rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[BucketUpdate] = {
      val ids = rows.map(_.doc_id).toArray
      var k = if (keeper.exists()) keeper.get() else Long.MaxValue
      var i = 0
      while (i < ids.length) { if (ids(i) < k) k = ids(i); i += 1 }
      keeper.update(k)
      val kk = k
      ids.iterator.map(id => BucketUpdate(key, id, kk))
    }
  }

  /** One row per (doc, band): the band-bucket key a document claims —
    * the identical signature chain as the batch G2 path, computed
    * doc-locally (native expressions, no state, no shuffle).
    */
  def bandRows(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3): DataFrame = {
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.NativeText.wordShingles(col(textCol), shingleSize).as("set"))
      .filter(size(col("set")) > 0)
      .withColumn("sig", graft.functions.NativeText.minhashSig(col("set"), k))
      .select(col("doc_id"),
        posexplode(graft.operators.PairForms.bandKeys(col("sig"), k, bands))
          .as(Seq("band", "bucket")))
      // band index folds into the state key (different bands of a
      // degenerate constant signature share the md5 — keep them apart)
      .select(concat(col("band").cast("string"), lit(":"), col("bucket"))
        .as("bkey"), col("doc_id"))
  }

  /** The streaming half: band rows through the per-bucket keeper
    * processor. Update mode; one [[BucketUpdate]] per arriving band
    * row.
    */
  def bucketKeepers(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    EventStream.withState(bandRows(docs, textCol, idCol, k, bands, shingleSize).as[BandRow],
      (_: BandRow).bkey, new BucketKeeperProcessor)
  }

  /** Split-invariant reduction of the update stream to the kept set:
    * the final keeper of a bucket is its min member id (monotone — any
    * split agrees), so a doc is kept iff no bucket of its bands has a
    * smaller member — the batch minhash keeper rule. One pass, no
    * self-join (a memory-sink table can't dedup its own attributes):
    * membership collapses to (bucket, doc) grain, the bucket min rides
    * a bucket-partitioned window (bounded by bucket size — the same
    * shape the batch path's cap guard uses), then a doc-grain combine.
    */
  def keptDocs(updates: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bkey")
    updates
      .groupBy("bkey", "doc_id").agg(count(lit(1)).as("__c"))
      .withColumn("__mn", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(max(when(col("__mn") < col("doc_id"), 1L).otherwise(0L)).as("__drop"))
      .filter(col("__drop") === 0L)
      .select("doc_id")
  }
}
