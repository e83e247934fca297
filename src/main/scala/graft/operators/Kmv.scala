package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PriorityTopKIds

/** KMV (k-minimum-values) theta sketch with SET OPERATIONS — the
  * sketch family HLL cannot provide: because a KMV sketch is just the
  * k smallest hash values of a set, the union of two sets sketches as
  * the k smallest of the two sketches' union, and membership of a
  * union-sketch hash in both input sketches estimates the Jaccard —
  * hence intersection cardinalities ("audience overlap") compose from
  * per-segment sketches without re-scanning the data.
  * (Beyer et al. 2007, "On synopses for distinct-value estimation
  * under multiset operations".)
  *
  * Estimators, for sketch S of size k with normalized k-th minimum
  * u_k ∈ (0,1): D̂ = (k−1)/u_k (exact count when |S| < k); for a pair,
  * with union sketch K = k smallest of S_a ∪ S_b:
  * Ĵ = |K ∩ S_a ∩ S_b| / |K| and D̂_∩ = Ĵ · D̂_∪.
  *
  * Scale shape: one exchange at the (segment, hash) distinct grain
  * (map-side combined), then the bounded-state k-smallest aggregate
  * (`PriorityTopKIds` with priority = the hash itself — O(k) partial
  * state per task, exact merge) collapses each segment to one k-long
  * array; all pairwise set arithmetic runs on the |segments|²-row
  * sketch table with in-row array ops. The corpus is never shuffled
  * at value grain and never scanned twice.
  *
  * Hashes are md5-derived 60-bit values (15 hex chars), so any engine
  * with md5 replays the sketch bit-for-bit — the DuckDB oracle does.
  */
object Kmv {

  /** 2^60 as a double — exactly representable, so `h / 2^60` is a
    * pure exponent shift (no rounding) on both engines.
    */
  private val Scale = 1152921504606846976.0

  /** 60-bit md5 hash of `id`, salted. */
  def hash60(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 15), 16, 10)
      .cast("long")

  /** Per-segment KMV sketch of `id`: (segment, sk = k smallest 60-bit
    * hashes ascending, n_exact = exact distinct count).
    */
  def sketch(df: DataFrame, segCol: String, id: Column, k: Int,
      salt: String = "kmv"): DataFrame =
    df.select(col(segCol), hash60(id, salt).as("__h"))
      .groupBy(col(segCol), col("__h")).agg(count(lit(1)).as("__dup"))
      .groupBy(col(segCol))
      .agg(
        PriorityTopKIds.sampleIds(col("__h").cast("double"), col("__h"), k)
          .as("sk"),
        count(lit(1)).as("n_exact"))

  private def dEst(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sk, k).cast("double") / lit(Scale)))

  /** All segment pairs (a < b) with estimated distinct sizes, union,
    * Jaccard, and intersection — plus the exact distincts the
    * estimates approximate.
    */
  def overlap(df: DataFrame, segCol: String, id: Column, k: Int): DataFrame = {
    val sk = sketch(df, segCol, id, k).localCheckpoint() // feeds both pair sides
    val a = sk.select(col(segCol).as("seg_a"), col("sk").as("ska"),
      col("n_exact").as("n_a"))
    val b = sk.select(col(segCol).as("seg_b"), col("sk").as("skb"),
      col("n_exact").as("n_b"))
    val u = slice(array_sort(array_union(col("ska"), col("skb"))), 1, k)
    a.join(broadcast(b), col("seg_a") < col("seg_b"))
      .withColumn("__u", u)
      .withColumn("__inter",
        size(array_intersect(array_intersect(col("__u"), col("ska")), col("skb")))
          .cast("double"))
      .withColumn("__du", dEst(col("__u"), k))
      .select(
        col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        round(dEst(col("ska"), k), 4).as("est_a"),
        round(dEst(col("skb"), k), 4).as("est_b"),
        round(col("__du"), 4).as("est_union"),
        round(col("__inter") / size(col("__u")), 4).as("est_jaccard"),
        round(col("__inter") / size(col("__u")) * col("__du"), 4)
          .as("est_intersect"))
  }
}
