package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared pieces of the near-duplicate pair operators (MinHash-LSH,
  * n-gram Jaccard, containment, PPJoin, FastSS, lexical cosine, dHash,
  * video, cosine-LSH, blocked ER): each is one pipeline — bucket, drop
  * buckets over a cap, expand survivors into member pairs, verify — and
  * takes its cap guard, pair expansion and band keys from here, so every
  * cap reports through one metric shape. How a caller SIZES its buckets
  * (a window on the groupBy's key, a groupBy joined back, a broadcast
  * count, an inline aggregate) stays its own: that sets the exchange
  * shape ScaleDesignSpec pins per operator.
  */
private[graft] object PairForms {

  /** Unique suffix for observe() names (CollectMetrics names must be
    * unique within one plan, and a plan can hold several caps). */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** The cap guard: rows whose bucket `size` exceeds `cap` are dropped
    * and reported by the observe() metric `graft_<site>_cap_<n>`:
    * `dropped` = Σ `weight` over dropped rows (1, or the document mass
    * of a row standing for several) and, if set, `largest` = the largest
    * size seen. One-member buckets form no pair and go too, unless
    * `singletons`. A cap that empties the filter whatever the data
    * (below 2, or below 1 with `singletons`) is rejected here: Spark
    * would fold the frame to an empty relation that runs nothing and
    * reports no metric.
    */
  def capDrop(df: DataFrame, site: String, size: Column, cap: Int,
      largest: Option[String] = Some("max_bucket_size"), dropped: String = "dropped_postings",
      weight: Column = lit(1L), singletons: Boolean = false): DataFrame = {
    val least = if (singletons) 1 else 2
    require(cap >= least, s"$site cap must be >= $least, got $cap")
    val metrics = sum(when(size > cap, weight).otherwise(0L)).as(dropped) +:
      largest.map(coalesce(max(size), lit(0L)).as(_)).toSeq
    df.observe(s"graft_${site}_cap_${obsId.incrementAndGet()}",
        metrics.head, metrics.tail: _*)
      .filter(if (singletons) size <= cap else size > 1 && size <= cap)
  }

  /** Pair orientation of struct members: ascending `id` field. */
  private val byId: (Column, Column) => Column = (a, b) => a("id") < b("id")

  /** Every member pair of each bucket: `member` collected per `keys`
    * value, then expanded by [[listPairs]]. Output: keep ++ (a, b). */
  def memberPairs(df: DataFrame, keys: Seq[String], member: Column, keep: Seq[String] = Nil,
      pair: (Column, Column) => Column = byId, as: (String, String) = ("a", "b")): DataFrame =
    listPairs(df.groupBy(keys.map(col): _*).agg(collect_list(member).as("__ms")),
      "__ms", keep, pair, as)

  /** In-row pair expansion of collected bucket lists: `list` explodes
    * against itself and `pair` keeps one orientation of each pair
    * ([[byId]], or `_ < _` for scalar members). Output: keep ++ (a, b),
    * named by `as`.
    */
  def listPairs(buckets: DataFrame, list: String, keep: Seq[String] = Nil,
      pair: (Column, Column) => Column = byId, as: (String, String) = ("a", "b")): DataFrame = {
    val (a, b) = as
    buckets
      .select(keep.map(col) ++ Seq(explode(col(list)).as(a), col(list)): _*)
      .select(keep.map(col) ++ Seq(col(a), explode(col(list)).as(b)): _*)
      .filter(pair(col(a), col(b)))
  }

  /** LSH band keys of a k-component MinHash signature: key b (0-based)
    * is the md5 of components b·rows+1 … (b+1)·rows joined by '|',
    * rows = k / bands. k must split evenly — a remainder would silently
    * leave the last k mod bands components out of every band.
    */
  def bandKeys(sig: Column, k: Int, bands: Int): Column = {
    require(bands >= 1 && k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", slice(sig, b * rows + 1, lit(rows)))))
  }

  /** Exact set-Jaccard verify of candidate (idA, idB) pairs against
    * (id, set) rows, kept at Jaccard (3dp) ≥ `minJaccard`.
    * Output: (idA, idB, jaccard).
    */
  def jaccardVerify(cands: DataFrame, sets: DataFrame, minJaccard: Double): DataFrame =
    cands
      .join(sets.select(col("id").as("idA"), col("set").as("setA")), Seq("idA"))
      .join(sets.select(col("id").as("idB"), col("set").as("setB")), Seq("idB"))
      .withColumn("jaccard",
        round(
          size(array_intersect(col("setA"), col("setB"))).cast("double") /
            size(array_union(col("setA"), col("setB"))), 3))
      .filter(col("jaccard") >= minJaccard)
      .select(col("idA"), col("idB"), col("jaccard"))

  /** Member pairs of a df-capped inverted index. Document frequency is
    * a groupBy on `term` joined back — NOT a term-partitioned window,
    * which would put a stop term's posting list (≈ the corpus under
    * Zipf) in one task with no map-side combine; the join back is
    * AQE-skew-splittable. Terms over `maxDf` (no similarity signal,
    * O(df²) pairs) drop before their postings enter a pair list, whose
    * partitioning the join already set. Output: keep ++ (a, b).
    */
  def postingPairs(postings: DataFrame, term: Seq[String], member: Column,
      site: String, maxDf: Int, largest: String, keep: Seq[String] = Nil): DataFrame = {
    val dfc = postings.groupBy(term.map(col): _*).agg(count(lit(1)).as("df"))
    memberPairs(
      capDrop(postings.join(dfc, term), site, col("df"), maxDf, Some(largest)),
      term, member, keep)
  }

  /** Near-dup pairs (idA, idB) across the [[Sampling.hashSplit]] of
    * `corpus`: both splits attach id-keyed and the unordered (split,
    * split) matrix counts pairs; a straddling pair is leaked signal. The
    * pair table is an eager cut (it feeds the matrix AND the total).
    * Output: (split_a, split_b, n_pairs, leak, share 4dp).
    */
  def straddleMatrix(pairs: DataFrame, corpus: DataFrame, idCol: String): DataFrame = {
    val splits = Sampling.hashSplit(corpus, idCol = idCol)
      .select(col(idCol), col("split"))
    val joined = pairs
      .join(splits.select(col(idCol).as("idA"), col("split").as("__sa")), Seq("idA"))
      .join(splits.select(col(idCol).as("idB"), col("split").as("__sb")), Seq("idB"))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .localCheckpoint() // feeds the matrix AND the total
    joined
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(joined.agg(count(lit(1)).as("__n_total"))))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        (col("split_a") =!= col("split_b")).as("leak"),
        round(col("n_pairs").cast("double") / col("__n_total"), 4).as("share"))
  }
}
