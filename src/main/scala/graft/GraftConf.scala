package graft

/** Engine-wide defaults, mirroring the reference's constants
  * (/root/reference/timeseries.py:30–36) mapped onto the driver
  * testdata's year range (lineitem ships 1995–2001).
  */
object GraftConf {
  /** First year of the temporal scaffold. */
  val FirstYear = 1995
  /** Last year of the temporal scaffold. */
  val LastYear = 2001
  /** Top-K scores kept in the harmonic sum. */
  val TopK = 50
  /** Harmonic-sum normalizer: Σ 1/i² as i→∞ (π²/6). */
  val MaxScore = 1.6449340668482264
  /** Logistic novelty parameters (timeseries.py:32–34). */
  val NoveltyScale = 2.0
  val NoveltyShift = 2.0
  val NoveltyWindow = 10
  /** Datasource weights for the overall score (timeseries.py:38–…). */
  val Weights: Seq[(String, Double)] =
    Seq("A" -> 1.0, "N" -> 0.5, "R" -> 0.2)

  /** Document-frequency cap for the n-gram Jaccard inverted index: a
    * shingle shared by more documents than this carries no similarity
    * signal (it is a stop-shingle) but would emit O(df²) candidate
    * pairs — the one quadratic blowup the operator can otherwise hit.
    */
  val NgramMaxDf = 128
  /** Candidate-bucket size cap for MinHash-LSH banding: band tuning
    * bounds bucket sizes probabilistically; this bounds them by
    * construction (a degenerate bucket of near-identical docs is
    * dropped and reported, never pair-expanded).
    */
  val LshBucketCap = 256
  /** Posting-bucket cap for prefix-filtered exact similarity join
    * (PPJoin): prefix tokens are each doc's globally RAREST shingles,
    * so posting lists are tiny on natural corpora — but a templated
    * corpus (the same rare boilerplate shingle in every doc) would
    * pair-expand O(bucket²). Buckets above the cap are dropped and
    * reported via observe(); below it the join stays EXACT. This is
    * the one knob that trades the exactness guarantee for a
    * by-construction bound — drops are never silent.
    */
  val PrefixPostingCap = 1024
  /** Distinct-value ceiling for the partitionless cumulative windows
    * of the rank-statistic family (KS, Mann–Whitney, ROC AUC, Gini):
    * their window input is VALUE grain — bounded by the metric's
    * quantized range, not the corpus — but an unbounded continuous
    * metric breaks that assumption and would funnel a single task.
    * Above the cap the job FAILS LOUDLY (a raise_error riding the same
    * window stage) instead of silently materializing a single-
    * partition sort; quantize or bucket the metric upstream. The
    * system property exists so the guard itself is testable without
    * building an 8M-distinct-value frame.
    */
  def ValueGrainCap: Long =
    sys.props.get("graft.valueGrainCap").map(_.toLong).getOrElse(8000000L)

  /** Block-size cap for blocked-Levenshtein entity resolution: the
    * within-block pair expansion is O(block²), so a degenerate block
    * key (e.g. every record sharing one token) is dropped and
    * reported via observe() rather than silently quadratic.
    */
  val ErBlockCap = 512
  /** Per-fingerprint copy cap for exact dedup ranking: a group with
    * more byte-identical copies than this is dropped (and reported via
    * observe()) before the per-copy ranking window, so a degenerate
    * all-identical corpus cannot funnel one task. Real corpora sit far
    * below it; crank it only with a matching skew budget.
    */
  val ExactCopyCap = 100000
  /** Shuffle width for the bounded streaming REPLAYS
    * (StreamQueries.materialize): each stateful operator opens one
    * state store per partition per micro-batch, so a finite replay
    * wants few, large state partitions — the fixed store
    * startup/commit cost dominates at replay scale. Production
    * unbounded streams size their own width at start().
    */
  val StreamStatePartitions = 8
}
