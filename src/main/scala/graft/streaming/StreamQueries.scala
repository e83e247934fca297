package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Runs the streaming operators as REGISTERED queries: a driver parquet
  * table is replayed through the file source with Trigger.AvailableNow
  * into a memory sink, and the materialized result is returned as a
  * batch DataFrame — so the streaming runtime (watermarks, state
  * stores, append/update semantics) is exercised end-to-end by the same
  * DuckDB oracle gate as every batch query.
  *
  * Determinism: the file source may split the input into any number of
  * micro-batches, so only batch-split-invariant results are registered —
  * append-mode aggregations are compared on their FINALIZED windows
  * (window end ≤ final watermark = max event time − delay, which no
  * batch split can change), and update-mode state is reduced to its
  * final value per key (`latestByKey`).
  */
object StreamQueries {

  private val ctr = new java.util.concurrent.atomic.AtomicLong()

  /** Per-run throughput/state record captured from
    * `StreamingQueryProgress` when a replay terminates — the figures a
    * 100 TB ingest decision needs next to the correctness gate
    * (VERDICT r13 item 5). `graft.StreamBench` drains this between
    * queries and publishes BENCH_STREAM.json.
    */
  final case class StreamRunMetrics(
      batches: Int,
      inputRows: Long,
      wallMs: Long,
      stateRowsMax: Long,
      stateBytesMax: Long)

  val metrics = scala.collection.concurrent.TrieMap.empty[String, StreamRunMetrics]

  private def record(name: String, runs: Seq[StreamingQuery], wallMs: Long): Unit = {
    val progs = runs.flatMap(_.recentProgress)
    metrics.put(name, StreamRunMetrics(
      batches = progs.length,
      inputRows = progs.map(_.numInputRows).sum,
      wallMs = wallMs,
      stateRowsMax = progs.map(p =>
        p.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L),
      stateBytesMax = progs.map(p =>
        p.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)))
  }

  /** A driver parquet table as a file-source stream, with the schema
    * [[graft.sources.Tables.schema]] resolves for the batch reads.
    */
  def streamTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // The driver tables are single FILES. FileStreamSource force-sets
    // basePath to the source path whenever it is NOT a glob, and a
    // file-valued basePath is rejected at partition inference — so feed
    // it a single-alternative {name} glob (matches only this file) and
    // pin basePath to the parent directory ourselves.
    spark.readStream.schema(graft.sources.Tables.schema(spark, path))
      .option("basePath", dir).parquet(s"$dir/{$name}.parquet")
  }

  /** events.parquet as a stream, with the same ts-encoding normalization
    * as [[graft.sources.Tables.events]] (nanos-as-long vs TIMESTAMP_NTZ).
    */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeEventTs(streamTable(spark, dir, "events"))
  }

  /** The evidence view (SURVEY.md §3) as a stream of
    * [[AssociationStream.EvidenceEvent]]-shaped rows.
    */
  def streamEvidence(spark: SparkSession, dir: String): DataFrame =
    evidence(streamTable(spark, dir, "lineitem"))

  /** The lineitem → evidence mapping behind [[streamEvidence]], plus
    * `extra` columns of the same rows (the ship date as event time for
    * the evicting twins).
    */
  private[graft] def evidence(lineitem: DataFrame, extra: Column*): DataFrame =
    lineitem.select(Seq(
      col("l_suppkey").cast("long").as("diseaseId"),
      col("l_partkey").cast("long").as("targetId"),
      col("l_returnflag").as("datasourceId"),
      (col("l_discount") * 10).cast("double").as("score")) ++ extra: _*)

  /** Run `stream` to completion (AvailableNow) into a uniquely-named
    * memory sink and return the materialized table.
    */
  def materialize(stream: DataFrame, mode: String = "append"): DataFrame = {
    val (name, _) = replay("stream", () => stream, mode)((w, name) =>
      w.format("memory").queryName(name))
    stream.sparkSession.table(name)
  }

  /** What [[crashRecoveryReplay]] returns: the recovered sink as a
    * batch frame plus the evidence the crash actually happened
    * mid-replay (phase-1 committed batches, phase-2 input rows — a
    * recovery gate where phase 2 read nothing tested nothing).
    */
  final case class CrashReplay(
      result: DataFrame,
      phase1Batches: Int,
      phase2InputRows: Long)

  /** Crash-recovery replay gate: run `build()` PACED into a
    * fault-tolerant sink, KILL the query after `stopAtBatchId`
    * commits (any in-flight batch is abandoned uncommitted — the
    * crash), then resume with a NEW query object from the SAME
    * checkpoint directory and run AvailableNow to completion. The
    * caller compares the final sink against a single-run sink and the
    * batch oracle — state-store restore, watermark re-read,
    * source-offset replay, and sink idempotence in one gate.
    *
    * Append-mode streams use the parquet FileStreamSink: the manifest
    * commits atomically per batch, so the crashed batch's orphan data
    * files stay invisible to the final metadata-log read and the
    * replayed batch lands exactly once. Update-mode streams
    * (transformWithState) use the documented idempotent-foreachBatch
    * pattern instead (streaming file sinks are append-only): each
    * micro-batch OVERWRITES its batchId-keyed directory, so a batch
    * replayed after the crash overwrites itself.
    */
  def crashRecoveryReplay(
      spark: SparkSession,
      build: () => DataFrame,
      outputMode: String = "append",
      stopAtBatchId: Long = 1L): CrashReplay = {
    val out = graft.Scratch.dir("sink-crash")
    val useForeachBatch = outputMode != "append"
    val (_, runs) = replay("crash", build, outputMode, Some(stopAtBatchId))((w, _) =>
      if (useForeachBatch) {
        val fold: (DataFrame, Long) => Unit = (df, id) =>
          df.write.mode("overwrite").parquet(s"$out/batch=$id")
        w.foreachBatch(fold)
      } else w.format("parquet").option("path", out))
    val result =
      if (useForeachBatch) spark.read.parquet(out).drop("batch")
      else spark.read.parquet(out)
    CrashReplay(result,
      runs.head.recentProgress.map(_.batchId).distinct.length,
      runs.last.recentProgress.map(_.numInputRows).sum)
  }

  /** Streaming INCREMENTAL-VIEW-MAINTENANCE sink: each micro-batch
    * collapses to its per-key mergeable state
    * ([[graft.operators.Incremental.aggState]]) and is FOLDED into a
    * persisted parquet state table via foreachBatch — the recurring-
    * refresh pattern where a stream maintains a warehouse rollup
    * without ever re-aggregating history. State dirs alternate by
    * batch parity (parquet can't overwrite a table it is reading), and
    * the fold algebra is exact integer arithmetic, so the final state
    * is identical under ANY micro-batch split — which is how the
    * DuckDB oracle (a plain batch aggregate of all the data) gates
    * the whole streaming path.
    *
    * Returns the final state table as a batch DataFrame.
    */
  def incrementalStateReplay(
      events: DataFrame,
      keys: Seq[String],
      valueCol: String): DataFrame = {
    val dirs = Array(graft.Scratch.dir("ivm-a"), graft.Scratch.dir("ivm-b"))
    val spark = events.sparkSession
    @volatile var last = -1L
    replay("ivm", () => events, "append")((w, _) =>
      w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = graft.operators.Incremental.aggState(batch, keys, valueCol)
        val prev = if (last >= 0) {
          spark.read.parquet(dirs((last % 2).toInt))
        } else delta.limit(0)
        graft.operators.Incremental.merge(keys, prev, delta)
          .write.mode("overwrite").parquet(dirs((batchId % 2).toInt))
        last = batchId
        ()
      })
    require(last >= 0, "stream produced no batches")
    spark.read.parquet(dirs((last % 2).toInt))
  }

  /** The one replay runner behind [[materialize]],
    * [[crashRecoveryReplay]] and [[incrementalStateReplay]]: it names
    * the sink `graft_<kind>_<n>`, checkpoints under the per-JVM
    * [[graft.Scratch]] root (removed at exit), starts `build()` into
    * `sink`, runs it AvailableNow to completion and records its
    * [[StreamRunMetrics]]. With `killAfterBatch` it first runs the
    * stream free, kills it once that batch has committed and resumes
    * from the same checkpoint; the record spans both runs (returned
    * killed first).
    *
    * Each start caps the shuffle partitions at
    * [[graft.GraftConf.StreamStatePartitions]] — every stateful operator
    * opens one state store PER partition PER micro-batch, so a bounded
    * replay at a wide session's batch width pays that startup/commit
    * overhead for no parallelism, while a session narrower than the cap
    * keeps its own width (widening it would only add state stores) —
    * and, when the analyzed plan holds a `TransformWithState`, the
    * RocksDB state store it requires (the default HDFS-backed store
    * rejects it).
    */
  private def replay(kind: String, build: () => DataFrame, mode: String,
      killAfterBatch: Option[Long] = None)(
      sink: (DataStreamWriter[Row], String) => DataStreamWriter[Row])
      : (String, Seq[StreamingQuery]) = {
    val name = s"graft_${kind}_${ctr.incrementAndGet()}"
    val ckpt = graft.Scratch.dir(s"ckpt-$name")
    def start(availableNow: Boolean): StreamingQuery = {
      val stream = build()
      val tws = stream.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState])
      val w = stream.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
      val width = math.min(graft.GraftConf.StreamStatePartitions,
        stream.sparkSession.sessionState.conf.numShufflePartitions)
      withConfs(stream.sparkSession,
        ("spark.sql.shuffle.partitions" -> width.toString) +:
          (if (tws) Seq(StateStoreKey -> EventStream.RocksDbProvider) else Nil)) {
        sink(if (availableNow) w.trigger(Trigger.AvailableNow()) else w, name).start()
      }
    }
    val t0 = System.nanoTime()
    val killed = killAfterBatch.toSeq.map { b =>
      val q = start(availableNow = false)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q.isActive && (q.lastProgress == null || q.lastProgress.batchId < b) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      q.stop()
      q.awaitTermination()
      q
    }
    val q = start(availableNow = true)
    q.awaitTermination()
    val runs = killed :+ q
    record(name, runs, (System.nanoTime() - t0) / 1000000L)
    (name, runs)
  }

  private[streaming] val StateStoreKey = "spark.sql.streaming.stateStore.providerClass"

  private val confLock = new Object

  /** Runs `body` with `confs` set on the session, restoring the previous
    * values after, under one process-wide lock so concurrent callers
    * cannot interleave a restore into another's start. A stream reads
    * them once, at start (its session is cloned then), so a caller
    * starts its stream inside `body`.
    */
  private[streaming] def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(
      body: => A): A = confLock.synchronized {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Reduce an update-mode output history to the final state per key:
    * the row with the highest `seqCol` (strictly increasing per key,
    * e.g. a cumulative evidence count) wins.
    */
  def latestByKey(updates: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame = {
    val others = updates.columns.filterNot(c => keyCols.contains(c) || c == seqCol)
    updates
      .groupBy(keyCols.map(col): _*)
      .agg(
        max(col(seqCol)).as(seqCol),
        others.map(c => max_by(col(c), col(seqCol)).as(c)): _*)
  }
}
