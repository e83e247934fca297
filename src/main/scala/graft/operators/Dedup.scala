package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines.
  *
  * Scale design (SURVEY.md §5): nothing here is ever O(n²) on the
  * corpus — exact dedup shuffles on the content hash; MinHash-LSH
  * shuffles on (band, bandHash) buckets and only verifies candidate
  * pairs that share a bucket. All hashing is md5-based and engine-
  * portable so a SQL oracle reproduces results bit-for-bit.
  */
object Dedup {

  /** Unique suffix for [[clusters]]' convergence-probe observe() names
    * (CollectMetrics names must be unique within one query plan).
    */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Exact duplicated-substring spans (Lee et al. 2022's ExactSubstr
    * pass, re-expressed for a shuffle engine): a token window of
    * `minLen` words is DUPLICATED when its exact text occurs >= 2
    * times in the corpus (any doc, including same-doc repeats);
    * overlapping/adjacent duplicated windows merge into MAXIMAL
    * per-document spans. This is the precision upgrade over
    * [[spanCoverage]]'s shingle fraction: exact token offsets of
    * every duplicated region >= minLen tokens, the spans the
    * RefinedWeb/MassiveText exact-substring pass cuts out of
    * training text. (A suffix array finds repeats of EVERY length;
    * windowing at minLen finds exactly the regions covered by a
    * duplicated minLen-gram — the same regions a >= minLen suffix-
    * array cut removes, located distributedly.)
    *
    * Scale shape: windows are hashed doc-locally — text never leaves
    * the scan; the (hash) exchange carries (id, pos, md5) only.
    * Duplicate hashes come from a groupBy on the hash (map-side
    * combine absorbs Zipf-hot boilerplate windows); the join back
    * rides the same hash partitioning with AQE skew-split. Span
    * merging is a per-doc gaps-and-islands window: an O(1)-state
    * running max of window ends, then one (doc, island) combine.
    *
    * Output: (idCol, span_start, span_end, span_tokens) — token
    * offsets, end EXCLUSIVE — one row per maximal duplicated span.
    */
  def exactDupSpans(
      df: DataFrame,
      minLen: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val wins = spread(df)
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= minLen)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__w")) - minLen),
        i => md5(concat_ws(" ", slice(col("__w"), i + 1, lit(minLen)))))))
      .select(col(idCol), col("pos").cast("long").as("__i"), col("col").as("__h"))
    val dup = wins.groupBy("__h")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("__h")
    val byDoc = Window.partitionBy(idCol).orderBy(col("__i"))
    val runMax = max(col("__i") + minLen)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    wins.join(dup, Seq("__h"))
      .withColumn("__new",
        when(runMax.isNull || col("__i") > runMax, 1L).otherwise(0L))
      .withColumn("__isl",
        sum(col("__new")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__i")).as("span_start"),
        (max(col("__i")) + minLen).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Exact-substring CUT — applies [[exactDupSpans]] to the corpus:
    * every token inside a duplicated span is removed and the document
    * re-joined, the destructive half of the Lee et al. 2022 pass
    * (detection finds the spans; this emits the text a training run
    * would actually see, plus the reduction accounting).
    *
    * Scale shape: spans collapse to one bounded struct array per
    * affected doc (id-keyed combine) and join back id-keyed; the cut
    * itself is an IN-ROW indexed filter against that array (spans
    * are disjoint by construction, array length <= tokens/minLen);
    * only the md5 of the cleaned text leaves the row — no rebuilt
    * corpus rides the wire.
    *
    * Output: (idCol, n_tokens, tokens_cut, clean_md5) for EVERY doc
    * (untouched docs report tokens_cut = 0 and the md5 of their
    * space-rejoined text).
    */
  def cutSpans(
      df: DataFrame,
      minLen: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spans = exactDupSpans(df, minLen, textCol, idCol)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"), col("__spans"))
      .withColumn("__kept",
        when(col("__spans").isNull, col("__w"))
          .otherwise(filter(col("__w"), (w, i) =>
            !exists(col("__spans"), sp =>
              i.cast("long") >= sp.getField("span_start") &&
                i.cast("long") < sp.getField("span_end")))))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        (size(col("__w")) - size(col("__kept"))).cast("long").as("tokens_cut"),
        md5(concat_ws(" ", col("__kept"))).as("clean_md5"))
  }

  /** Exact duplicate ranking by content hash: every row gets its
    * fingerprint, the number of copies, and a deterministic rank among
    * its copies (rank 1 = the keeper).
    *
    * Scale shape: copy counts come from a groupBy on the fingerprint —
    * map-side combine absorbs even a corpus of billions of
    * byte-identical documents — joined back on fp (AQE skew-split
    * applies). Groups larger than `copyCap` are dropped BEFORE the
    * ranking window (reported via observe(), never silently), so the
    * per-fp window partition is ≤ copyCap rows by construction and no
    * adversarial corpus can funnel one task. A group that hot is bot
    * spam, not content — enumerate it from the counts table, not
    * per-copy.
    */
  def exactRank(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      copyCap: Int = graft.GraftConf.ExactCopyCap): DataFrame = {
    val fp = TextAnalysis.fingerprint(df, textCol)
    val counts = fp.groupBy("fp").agg(count(lit(1)).as("n_copies"))
    PairForms.capDrop(fp.join(counts, "fp"), "exact_copy", col("n_copies"), copyCap,
        largest = None, dropped = "dropped_rows", singletons = true)
      .withColumn("dup_rank",
        row_number().over(Window.partitionBy("fp").orderBy(idCol)))
  }

  /** Word n-gram shingles (ordered, with duplicates). Empty when the
    * document has fewer than `n` words.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = TextAnalysis.words(text)
    when(size(w) >= n,
      transform(
        sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: element j (1-based) is min(md5(j || ':' || s))
    * over the shingle set — portable min-over-hex-string semantics.
    */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    transform(
      sequence(lit(1), lit(k)),
      j => array_min(transform(shinglesCol, s => md5(concat(j.cast("string"), lit(":"), s)))))

  /** Near-duplicate pairs via MinHash-LSH banding + exact Jaccard
    * verification. Output: (idA, idB, jaccard) with idA < idB.
    *
    * @param k      signature length
    * @param bands  number of LSH bands (k % bands == 0, or the call
    *               raises IllegalArgumentException)
    * @param minJaccard verification threshold on exact shingle-set Jaccard
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3,
      minJaccard: Double = 0.8,
      bucketCap: Int = graft.GraftConf.LshBucketCap): DataFrame =
    lshPairs(
      spread(df)
        .select(col(idCol).as("id"),
          graft.functions.NativeText.wordShingles(col(textCol), shingleSize).as("set"))
        .filter(size(col("set")) > 0),
      "lsh_bucket", k, bands, minJaccard, bucketCap)

  /** The banded MinHash-LSH pipeline of [[minhashLshPairs]] and
    * [[stoplistedMinhashPairs]] over non-empty (id, set) rows. Only
    * (id, band, bucket) shuffles; sets re-join for the few surviving
    * candidates. Candidates come from a bucket groupBy + in-row pair
    * expansion, so the signature chain runs ONCE (a banded self-join
    * would re-run it per side). `bucketCap` bounds buckets by
    * construction: a degenerate bucket is dropped (and reported) BEFORE
    * it enters a collect_list buffer — the count window shares the
    * (band, bucket) partitioning with the groupBy, so the guard adds no
    * exchange, and a window spills where an aggregation buffer would not.
    */
  private def lshPairs(sets: DataFrame, site: String, k: Int, bands: Int,
      minJaccard: Double, bucketCap: Int): DataFrame = {
    val sized = sets
      .withColumn("sig", graft.functions.NativeText.minhashSig(col("set"), k))
      .select(col("id"),
        posexplode(PairForms.bandKeys(col("sig"), k, bands)).as(Seq("band", "bucket")))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bucket")))
    val candidates = PairForms.memberPairs(
        PairForms.capDrop(sized, site, col("bn"), bucketCap),
        Seq("band", "bucket"), col("id"), pair = _ < _, as = ("idA", "idB"))
      .distinct()
    PairForms.jaccardVerify(candidates, sets, minJaccard)
  }

  /** Boilerplate-robust near-dup pairs — [[minhashLshPairs]] with the
    * G83 stop-shingle list excised BEFORE signatures: templated mass
    * (headers, navigation, license blocks) no longer buckets
    * unrelated docs together or inflates verified Jaccard, which is
    * exactly how boilerplate poisons a web-corpus dedup pass. Feed it
    * [[boilerplateShingles]]' output (or any curated stoplist dim).
    *
    * Scale shape: shingles hash doc-locally and anti-join the
    * BROADCAST stoplist at (id, shingle) grain, re-collect to one
    * bounded set per doc, then ride the standard G2 banding flow
    * (capped buckets, observe()d drops, bucket-local verification).
    * One extra (id) combine vs the plain path — the price of the
    * excision.
    *
    * Output: (idA, idB, jaccard) with idA < idB, Jaccard on the
    * STOPLISTED shingle sets.
    */
  def stoplistedMinhashPairs(
      df: DataFrame,
      stopShingles: DataFrame,
      stopCol: String = "shingle",
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3,
      minJaccard: Double = 0.8,
      bucketCap: Int = graft.GraftConf.LshBucketCap): DataFrame = {
    val kept = spread(df)
      .select(col(idCol).as("id"),
        explode(graft.functions.NativeText.wordShingles(col(textCol), shingleSize))
          .as("s"))
      .join(broadcast(stopShingles.select(col(stopCol).as("s")).distinct()),
        Seq("s"), "left_anti")
      .groupBy("id")
      .agg(array_distinct(collect_list(col("s"))).as("set"))
      .filter(size(col("set")) > 0)
    lshPairs(kept, "stoplsh_bucket", k, bands, minJaccard, bucketCap)
  }

  /** INCREMENTAL near-dup pairs — the steady-state production shape
    * for a daily crawl: only pairs TOUCHING the delta batch are
    * produced, and any bucket containing no delta doc is skipped
    * before pair expansion (in steady state that is almost all of
    * them — the full-corpus re-pairing [[minhashLshPairs]] does is
    * exactly what a 100 TB daily ingest cannot afford; at scale the
    * base signatures are a persisted index, recomputed here only
    * because the testdata has no cross-run store). Bucket caps are
    * computed over base+delta TOGETHER, so the emitted pairs are
    * byte-identical to the full run filtered to delta-involved pairs
    * — which is how the oracle gates it.
    *
    * Output: (idA, idB, jaccard) with idA < idB, >= one side new.
    */
  def incrementalPairs(
      base: DataFrame,
      delta: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3,
      minJaccard: Double = 0.8,
      bucketCap: Int = graft.GraftConf.LshBucketCap): DataFrame = {
    def withSig(df: DataFrame, isNew: Boolean) = spread(df)
      .select(col(idCol).as("id"),
        graft.functions.NativeText.wordShingles(col(textCol), shingleSize).as("set"))
      .filter(size(col("set")) > 0)
      .withColumn("sig", graft.functions.NativeText.minhashSig(col("set"), k))
      .withColumn("__new", lit(isNew))
    val all = withSig(base, isNew = false).unionByName(withSig(delta, isNew = true))
    val sized = all
      .select(col("id"), col("__new"),
        posexplode(PairForms.bandKeys(col("sig"), k, bands)).as(Seq("band", "bucket")))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bucket")))
    val buckets = PairForms.capDrop(sized, "inc_bucket", col("bn"), bucketCap)
      .groupBy("band", "bucket")
      .agg(collect_list(struct(col("id"), col("__new"))).as("ids"))
      // the incremental win: buckets with no delta member never expand
      .filter(exists(col("ids"), x => x.getField("__new")))
    val candidates = PairForms
      .listPairs(buckets, "ids",
        pair = (a, b) => a("id") < b("id") && (a("__new") || b("__new")))
      .select(col("a.id").as("idA"), col("b.id").as("idB"))
      .distinct()
    PairForms.jaccardVerify(candidates, all.select(col("id"), col("set")), minJaccard)
  }

  /** Near-dup CLUSTERS from a pair graph: connected components via
    * hash-to-min label propagation — each doc converges to its
    * component's minimum id, which is the canonical keeper (`id ==
    * comp` rows survive dedup). Output: (id, comp) for every id
    * appearing in `pairs`.
    *
    * Scale shape: min-label propagation with POINTER JUMPING — per
    * round, (a) one equi-join edges⋈labels + a min-combine groupBy
    * (neighbor min, both partial-aggregated), then (b) one label
    * self-join following each label to ITS label (path halving). Step
    * (b) makes the round count logarithmic in the component diameter
    * instead of linear — a 2^20-hop chain converges in ~20 rounds —
    * while near-dup components (clique-like LSH pairs) still finish in
    * 2–3. The driver loop runs one isEmpty action per round to test
    * convergence — Pregel-style control flow, not a data-path collect.
    *
    * Convergence is REQUIRED: if the label fixpoint is not reached
    * within `maxIters` rounds the call throws rather than returning
    * silently mis-clustered labels (VERDICT r6 §4 — downstream keeper
    * choice, PageRank, and triangle counts would all inherit the
    * corruption without any signal).
    */
  def clusters(
      pairs: DataFrame,
      idACol: String = "idA",
      idBCol: String = "idB",
      maxIters: Int = 25): DataFrame = {
    val und = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
    // Self-loops fold each node's OWN label into the neighbor-min
    // below — no per-round union(labels) needed (which also tripped
    // Union constraint rewriting against checkpointed relations).
    val edges = und
      .union(und.select(col("src"), col("src").as("dst")).distinct())
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var converged = false
    var prevSum: java.math.BigDecimal = null
    var i = 0
    while (!converged && i < maxIters) {
      // localCheckpoint truncates the lineage each round: the
      // neighbor-min result feeds BOTH sides of the path-halving join
      // below, and without truncation the logical plan doubles per
      // round (exponential analysis time by round ~8). Eager + small
      // (one row per distinct id) — the standard driver-loop pattern
      // for iterative graph algorithms.
      // r16: the convergence probe rode the checkpoint action via
      // observe(); r17: the probe is Σcomp (exact decimal) instead of
      // a changed-count join against the old labels — per-id labels
      // are MONOTONE non-increasing (neighbor-min includes the own
      // label via self-loops, path halving only follows to smaller
      // labels), so Σ is strictly decreasing until the fixpoint and
      // Σ-equality with the previous round ⟺ no id changed. Checked
      // at the NEIGHBOR-MIN action: a neighbor-min fixpoint is the CC
      // fixpoint (the min-label set S is closed under adjacency at a
      // fixpoint, so S is the whole component, and labels only take
      // node-id values ≥ the component min), so the final round skips
      // the path-halving self-join + second action entirely, and no
      // round joins the old labels (2 joins → 1 self-join;
      // ~8 registered queries compose this loop).
      val nmObs = new org.apache.spark.sql.Observation(
        s"graft_cc_nmsum_${obsId.incrementAndGet()}")
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("comp"))
        .groupBy("id").agg(min("comp").as("comp"))
        .observe(nmObs,
          coalesce(sum(col("comp").cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("labelsum"))
        .localCheckpoint()
      val nmSum = nmObs.get.apply("labelsum").asInstanceOf[java.math.BigDecimal]
      if (prevSum != null && prevSum.compareTo(nmSum) == 0) {
        neighborMin.unpersist()
        converged = true
      } else {
        // Path halving: follow comp → label(comp) once per round.
        // Safe — any label reachable via labels stays inside the
        // component, and labels only decrease toward the minimum.
        val obs = new org.apache.spark.sql.Observation(
          s"graft_cc_sum_${obsId.incrementAndGet()}")
        val prop = neighborMin.as("l")
          .join(
            neighborMin.select(col("id").as("pid"), col("comp").as("pcomp")),
          col("l.comp") === col("pid"), "left")
          .select(col("id"),
            least(col("l.comp"), coalesce(col("pcomp"), col("l.comp"))).as("comp"))
          .observe(obs,
            coalesce(sum(col("comp").cast("decimal(38,0)")),
              lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("labelsum"))
          .localCheckpoint()
        // localCheckpoint is eager, so `prop` is already materialized —
        // release the round's neighbor-min copy now instead of leaking
        // one cached label table per iteration (up to maxIters copies).
        neighborMin.unpersist()
        prevSum = obs.get.apply("labelsum").asInstanceOf[java.math.BigDecimal]
        labels.unpersist()
        labels = prop
      }
      i += 1
    }
    edges.unpersist()
    require(converged,
      s"Dedup.clusters did not converge in $maxIters rounds — component " +
        "diameter exceeds 2^maxIters hops or the pair graph is pathological; " +
        "raise maxIters rather than trusting unconverged labels")
    labels
  }

  /** Soft dedup — duplicate-count DOWNWEIGHTING instead of removal:
    * every document keeps weight 1/|its near-dup cluster| (singletons
    * weight 1), so a family of k near-copies contributes one
    * document's worth of training mass in expectation while keeping
    * intra-family diversity available to the sampler — the soft
    * alternative to [[clusters]]' keeper-only cut, pairing with G24's
    * weighted sampling downstream. Weights publish in exact
    * micro-units (round(10⁶/k), positive-domain — engine-identical);
    * the per-source rollup reports raw vs EFFECTIVE corpus size
    * (Σ weights) — the number a mixture budget actually spends.
    *
    * Scale shape: G2's capped pair machinery + [[clusters]]'
    * pointer-jumping; the weight attach is one left join of the doc
    * table against the component-size dim; the rollup map-side
    * combines. Text never rides an exchange.
    *
    * Output: (source, n_docs, effective_docs_mu).
    */
  def softDedupWeights(documents: DataFrame): DataFrame = {
    val comp = clusters(minhashLshPairs(documents).select("idA", "idB"))
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("__k"))
    val perDoc = comp.join(sizes, "comp")
      .select(col("id").as("doc_id"),
        round(lit(1000000.0) / col("__k")).cast("long").as("__w"))
    documents.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("__w", coalesce(col("__w"), lit(1000000L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("__w").as("effective_docs_mu"))
  }

  /** Asymmetric shingle CONTAINMENT (Broder 1997), within a blocking
    * key: C(A→B) = |A∩B|/|A| and the reverse — the subset/quotation
    * detector Jaccard misses (a short doc quoted verbatim inside a
    * long one has tiny Jaccard but containment ≈ 1; this is the
    * dedup primitive for boilerplate and wholesale inclusion).
    *
    * Same inverted-index scale shape as [[ngramJaccard]]: distinct
    * shingle sets, df-capped posting lists (hot shingles dropped with
    * observe() metrics BEFORE pair expansion), pair counts from the
    * (block, shingle) groupBy — work scales with sharing pairs, never
    * O(n²) per block.
    *
    * Output: (block, idA, idB, c_ab, c_ba) where either direction
    * clears `minContainment`; c_ab = |A∩B|/|A| (3dp), idA < idB.
    */
  def shingleContainment(
      df: DataFrame,
      blockCol: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minContainment: Double = 0.8,
      maxDf: Int = graft.GraftConf.NgramMaxDf): DataFrame =
    commonShingles(df, blockCol, idCol,
        array_distinct(
          graft.functions.NativeText.wordShingles(col(textCol), shingleSize)),
        "containment_df", maxDf)
      .withColumn("c_ab", round(col("common").cast("double") / col("szA"), 3))
      .withColumn("c_ba", round(col("common").cast("double") / col("szB"), 3))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minContainment)
      .select(col("block"), col("idA"), col("idB"), col("c_ab"), col("c_ba"))

  /** MERGEABLE MinHash slice state + pairwise slice-overlap estimate —
    * the sketch-grain companion to G55's exact vocabulary Jaccard: the
    * per-slice state is the elementwise MIN of every member document's
    * k-component signature, which equals the MinHash of the slice's
    * shingle-set UNION (min is associative/commutative — the same
    * state/merge contract as the I6/I16 HLL and I12 KMV families, k
    * strings per slice instead of the vocabulary). Ĵ(A, B) = the
    * fraction of agreeing components — the standard MinHash estimator,
    * ±1/√k. The "how much do these two corpus slices actually share"
    * pre-flight at 100 TB, where G55's exact set intersection would
    * shuffle both vocabularies.
    *
    * Scale shape: signatures are row-local (the G2 chain's native
    * expressions); the rollup is one map-side-combined (slice,
    * component) aggregate — the ONLY exchange carries ≤ slices·k
    * 32-char strings; the pair compare is a dim-sized self-join.
    *
    * Output: (slice_a, slice_b, k, n_agree, jaccard_est 4dp),
    * slice_a < slice_b.
    */
  def minhashSliceOverlap(
      df: DataFrame,
      sliceCol: String = "source",
      textCol: String = "text",
      k: Int = 12,
      shingleSize: Int = 3): DataFrame = {
    val state = spread(df)
      .select(col(sliceCol).as("slice"),
        graft.functions.NativeText.wordShingles(col(textCol), shingleSize)
          .as("set"))
      .filter(size(col("set")) > 0)
      .withColumn("sig",
        graft.functions.NativeText.minhashSig(col("set"), k))
      .select(col("slice"), posexplode(col("sig")).as(Seq("i", "h")))
      .groupBy(col("slice"), col("i"))
      .agg(min(col("h")).as("h"))
    state.alias("a")
      .join(state.alias("b"),
        col("a.i") === col("b.i") && col("a.slice") < col("b.slice"))
      .groupBy(col("a.slice").as("slice_a"), col("b.slice").as("slice_b"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("a.h") === col("b.h"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("slice_a"), col("slice_b"), col("k"), col("n_agree"),
        round(col("n_agree").cast("double") / col("k"), 4).as("jaccard_est"))
  }

  /** n-gram Jaccard similarity above a threshold, within a blocking
    * key, via an inverted shingle index: explode distinct shingles,
    * equi-join on (block, shingle), count common shingles per pair,
    * then |A∩B| / (|A| + |B| − |A∩B|).
    *
    * Work scales with the number of *sharing* pairs, never O(n²) per
    * block — except through hot shingles: a shingle present in d
    * documents of a block emits d² pair rows before any filter, the
    * one quadratic scale-killer of the inverted-index form. `maxDf`
    * caps it: shingles shared by more than `maxDf` documents are
    * stop-shingles (no similarity signal) and are excluded from the
    * common-shingle COUNT on both the engine and oracle side (set
    * sizes |A|, |B| stay exact), making the approximation identical
    * and deterministic in both engines. Dropped posting rows are
    * reported via observe() metrics, never silently.
    *
    * With no hot shingles (df ≤ maxDf everywhere) the output is
    * identical to the naive all-pairs form (a pair with zero common
    * shingles has Jaccard 0 < threshold).
    */
  def ngramJaccard(
      df: DataFrame,
      blockCol: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minJaccard: Double = 0.5,
      maxDf: Int = graft.GraftConf.NgramMaxDf): DataFrame =
    commonShingles(df, blockCol, idCol,
        graft.functions.NativeText.wordShingles(col(textCol), shingleSize),
        "ngram_df", maxDf)
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("szA") + col("szB") - col("common")), 3))
      .filter(col("jaccard") >= minJaccard)
      .select(col("block"), col("idA"), col("idB"), col("jaccard"))

  /** Shared-shingle counts of within-block pairs — the body of
    * [[ngramJaccard]] and [[shingleContainment]]: (block, shingle)
    * postings df-capped by [[PairForms.postingPairs]], one pair-grain
    * count; set sizes stay exact. explode drops empty shingle arrays, so
    * no pre-filter (one would be pushed below the projection and
    * re-run the shingling). Output: (block, idA, idB, szA, szB, common).
    */
  private def commonShingles(df: DataFrame, blockCol: String, idCol: String,
      shingles: Column, site: String, maxDf: Int): DataFrame = {
    val docs = spread(df)
      .select(col(blockCol).as("block"), col(idCol).as("id"), shingles.as("sh"))
      .select(col("block"), col("id"), col("sh"), size(col("sh")).as("sz"))
    val inv = docs.select(
      col("block"), col("id"), col("sz"), explode(col("sh")).as("s"))
    PairForms
      .postingPairs(inv, Seq("block", "s"), struct(col("id"), col("sz")),
        site, maxDf, "max_shingle_df", keep = Seq("block"))
      .groupBy(
        col("block"),
        col("a.id").as("idA"), col("b.id").as("idB"),
        col("a.sz").as("szA"), col("b.sz").as("szB"))
      .agg(count(lit(1)).as("common"))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs /
    * PPJoin family, Bayardo et al. WWW'07): every pair with Jaccard ≥
    * tNum/tDen over distinct word shingles is found — no probabilistic
    * misses, the guarantee MinHash LSH (q31) trades away.
    *
    * Prefix principle: order each doc's shingles by global rarity
    * (ascending document frequency, shingle string as tie-break — a
    * total order any engine reproduces). With c = tNum/(tNum+tDen)
    * and prefix length p(x) = |x| − ⌈c·|x|⌉ + 1, two sets with
    * J ≥ t MUST share a prefix token: if the prefixes were disjoint,
    * the common tokens split into ≤ |a|−p(a) carried by a's suffix
    * and ≤ |b|−p(b) by b's, totalling ⌈c|a|⌉+⌈c|b|⌉−2 < ⌈c(|a|+|b|)⌉
    * ≤ |a∩b| — contradiction. So candidate pairs = prefix-posting
    * bucket join, exact Jaccard verified per candidate.
    *
    * Everything threshold-shaped is INTEGER arithmetic — ⌈c·|x|⌉ as
    * (|x|·tNum + tNum+tDen − 1) div (tNum+tDen), the final filter as
    * common·tDen ≥ (|a|+|b|−common)·tNum — so no float boundary can
    * disagree between engines (the rounded jaccard column is display
    * only).
    *
    * Scale shape: df comes from a map-side-combined groupBy on the
    * shingle key (Zipf absorbed, as ngramJaccard); the per-doc sort
    * is an in-row array_sort bounded by doc length; only PREFIX
    * postings (the rarest ~1−c of each doc) enter the bucket join, so
    * stop-shingles never form posting lists; verification is an
    * in-row array_intersect on the two candidate docs' shingle sets.
    * Rarity ordering keeps posting buckets tiny on natural corpora,
    * but a TEMPLATED corpus (the same rare boilerplate shingle across
    * thousands of docs) would still pair-expand O(bucket²) — so
    * buckets above `postingCap` are dropped BEFORE any collect_list
    * buffer or pair expansion (the guard window shares the bucket-key
    * partitioning with the groupBy, adding no exchange) and reported
    * via observe() metrics, never silently. Below the cap the join
    * remains EXACT.
    *
    * EXACT-DUP FAMILY COLLAPSE: a corpus with byte-identical
    * duplicate families (every real crawl) makes verified-pair volume
    * quadratic in family size — the one term that grew 13× for 10×
    * data at the sf1 bench. Identical text ⇒ identical shingle set,
    * so families (md5(text) grain) collapse to ONE representative
    * before any posting/pairing work; df and posting-bucket mass stay
    * DOC grain via the family-size weight Σf (the cap is ordering/
    * mass SEMANTICS, not just cost), and doc-grain pairs are emitted
    * arithmetically at the very end (family cross-products, plus
    * intra-family pairs at jaccard 1). Lossless: same pair set as the
    * doc-grain formulation, pinned by the brute-force equivalence
    * spec.
    */
  def prefixJaccardJoin(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      tNum: Int = 1,
      tDen: Int = 2,
      postingCap: Int = graft.GraftConf.PrefixPostingCap): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    val cd = tNum + tDen
    // family key = (md5, xxhash64, length): an md5 collision between
    // two different texts is CONSTRUCTIBLE — the composite removes
    // the constructed-collision false-merge case at near-zero cost
    val famKey = concat_ws(":", md5(col(textCol)),
      xxhash64(col(textCol)).cast("string"),
      length(col(textCol)).cast("string"))
    val base = spread(df)
      .select(col(idCol).as("id"), famKey.as("fk"),
        graft.functions.NativeText.wordShingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    // one rep per exact-dup family; f = family size (doc-grain mass).
    // first(sh) is deterministic here: identical text ⇒ identical set
    val reps = base.groupBy("fk")
      .agg(count(lit(1)).as("f"), first("sh").as("sh"))
      .select(col("fk"), col("f"), col("sh"), size(col("sh")).as("sz"))
    val inv = reps.select(col("fk"), col("f"), col("sz"), explode(col("sh")).as("s"))
    val dfc = inv.groupBy("s").agg(sum("f").as("df"))
    val sorted = inv.join(dfc, Seq("s"))
      .select(col("fk"), col("f"), col("sz"),
        concat(lpad(col("df").cast("string"), 10, "0"), lit(":"), col("s")).as("k"))
      .groupBy("fk", "f", "sz")
      .agg(array_sort(collect_list(col("k"))).as("ks"))
      .withColumn("p",
        col("sz") - ((col("sz") * tNum + (cd - 1)) / cd).cast("int") + 1)
    // PPJoin POSITIONAL filter (Xiao et al. WWW'08) on top of the
    // prefix filter: a posting carries its 0-based position `pos` in
    // the doc's rarity-sorted shingle list, and a candidate generated
    // from a token at positions (ia, ib) can overlap by at most
    // 1 + min(szA−1−ia, szB−1−ib) — the shared token plus whatever
    // fits in both suffixes. J ≥ t needs overlap ≥ ⌈tNum(szA+szB)/cd⌉,
    // so pairs failing (1+min)·cd ≥ (szA+szB)·tNum at EVERY generating
    // token are pruned before the distinct/verify joins (sf0.1: 606k
    // candidates → 125k). Exact: the FIRST common token of a J ≥ t
    // pair sits in both prefixes with all common tokens at or after
    // it, so its bound ≥ true overlap ≥ α — the pair always survives
    // there. (Under a posting-cap drop of that first bucket a later
    // token must carry the pair, where the bound is genuinely tighter
    // — the oracle replays the same positional arithmetic, so the cap
    // + positional semantics stay engine-identical.)
    val postings = sorted
      .select(col("fk"), col("f"), col("sz"),
        posexplode(slice(col("ks"), lit(1), col("p"))).as(Seq("pos", "k")))
      .withColumn("bn", sum(col("f")).over(Window.partitionBy("k")))
    val cand = PairForms
      .memberPairs(
        PairForms.capDrop(postings, "prefix_posting", col("bn"), postingCap,
          weight = col("f")),
        Seq("k"), struct(col("fk"), col("f"), col("sz"), col("pos")),
        // cross-family candidates, plus each multi-doc family once
        // (its docs pair with each other at jaccard 1)
        pair = (a, b) => a("fk") < b("fk") || (a("fk") === b("fk") && a("f") >= 2))
      .filter((lit(1) + least(col("a.sz") - 1 - col("a.pos"),
          col("b.sz") - 1 - col("b.pos"))) * cd >=
        (col("a.sz") + col("b.sz")) * tNum)
      .select(col("a.fk").as("fkA"), col("b.fk").as("fkB"))
      .distinct()
    val sets = reps.select(col("fk"), col("sh"), col("sz"))
    val rpass = cand
      .join(sets.select(col("fk").as("fkA"), col("sh").as("shA"),
        col("sz").as("szA")), Seq("fkA"))
      .join(sets.select(col("fk").as("fkB"), col("sh").as("shB"),
        col("sz").as("szB")), Seq("fkB"))
      .withColumn("common",
        when(col("fkA") === col("fkB"), col("szA"))
          .otherwise(size(array_intersect(col("shA"), col("shB")))))
      .filter(col("common") * tDen >= (col("szA") + col("szB") - col("common")) * tNum)
      .select(col("fkA"), col("fkB"),
        round(col("common").cast("double") /
          (col("szA") + col("szB") - col("common")), 4).as("jaccard"))
    // expand family pairs back to doc grain — output volume only.
    // No shingle recompute and no size filter here: the inner join
    // against surviving families implies both (same family key ⇒
    // same text ⇒ same shingle set as the rep that passed the filter)
    val ids = spread(df).select(famKey.as("fk"), col(idCol).as("id"))
    rpass
      .join(ids.select(col("fk").as("fkA"), col("id").as("ida")), Seq("fkA"))
      .join(ids.select(col("fk").as("fkB"), col("id").as("idb")), Seq("fkB"))
      .filter(col("fkA") =!= col("fkB") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("idA"),
        greatest(col("ida"), col("idb")).as("idB"), col("jaccard"))
  }

  /** Fuzzy record linkage at edit distance ≤ 1, EXACT and
    * near-linear: the FastSS / symmetric-delete neighborhood (Bocek
    * et al. 2007) — two strings are within one edit iff their
    * deletion neighborhoods (every single-character deletion, plus
    * the string itself) intersect: a substitution deletes the
    * differing position from both; an insertion's deletion IS the
    * shorter string. So candidates come from an equi-join on
    * (block, deletion-variant) — |s|+1 variants per row, tiny
    * buckets — never the block-quadratic pair matrix a blocked
    * self-join with a per-pair edit-distance predicate degenerates
    * to (prefix-half pigeonhole blocking is useless on common-prefix
    * name data: every "Customer#…" shares the prefix half).
    * Survivors verify with the banded THRESHOLD levenshtein (−1 past
    * the threshold), so the full DP never runs.
    *
    * Scale shape: explode ≈ |s| variants per row, map-side-combined
    * groupBy on the (block, variant) key, in-row pair expansion over
    * the tiny buckets, id-keyed joins back for verification. A
    * degenerate bucket (mass-identical names) is the exact-dedup
    * case — run [[exact]] first.
    */
  def fuzzyPairs(
      df: DataFrame,
      blockCol: String,
      nameCol: String,
      idCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist == 1, "deletion-neighborhood blocking is exact for maxDist = 1")
    val c = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(nameCol).as("nm"))
    // i = 0..len−1 delete position i+1; i = len yields the string itself
    val variants = expr(
      """transform(sequence(0, length(nm)),
        |  i -> concat(substr(nm, 1, i), substr(nm, i + 2, length(nm))))""".stripMargin)
    val buckets = c
      .select(col("blk"), col("id"), explode(array_distinct(variants)).as("v"))
      .groupBy("blk", "v").agg(collect_list("id").as("ids"))
      .filter(size(col("ids")) > 1)
    val cand = PairForms.listPairs(buckets, "ids", pair = _ < _, as = ("idA", "idB"))
      .distinct()
    cand
      .join(c.select(col("id").as("idA"), col("nm").as("nmA")), Seq("idA"))
      .join(c.select(col("id").as("idB"), col("nm").as("nmB")), Seq("idB"))
      .withColumn("dist", levenshtein(col("nmA"), col("nmB"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("idA"), col("idB"), col("dist"))
  }

  /** SURGICAL decontamination — the "apply" step [[crossContamination]]
    * only scans for: every corpus word covered by a shingle that also
    * occurs in the benchmark set is EXCISED, and the cleaned text
    * re-emitted (as its hash here — the gate needs equality, not the
    * bytes). This is how eval-set leakage is actually repaired in
    * training corpora: drop the overlapping spans, keep the document.
    *
    * Positional shingles are rebuilt inline (the distinct-shingle
    * helper would lose repeated occurrences and under-excise).
    *
    * Scale shape: mirrors crossContamination — the benchmark index is
    * broadcast, the corpus sees one scan-local posexplode + broadcast
    * semi-join, the covered-position rollup is a map-side-combined
    * groupBy on the doc id, and the excision itself is an in-row
    * higher-order filter over the word array. Text crosses the wire
    * once (the id-keyed join back).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3): DataFrame = {
    require(shingleSize == 3, "positional synthesis below is written for 3-grams")
    val bench = spread(benchmark)
      .select(explode(graft.functions.NativeText.wordShingles(col(textCol), shingleSize)).as("s"))
      .distinct()
    val corp = spread(corpus).select(col(idCol).as("id"), col(textCol).as("text"))
    val words = split(col("text"), " ")
    val nshin = size(words) - (shingleSize - 1)
    val posShingles = when(nshin > 0,
      transform(sequence(lit(0), nshin - 1), i =>
        concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2),
          element_at(words, i + 3))))
      .otherwise(expr("CAST(array() AS array<string>)"))
    val hits = corp
      .select(col("id"), posexplode(posShingles).as(Seq("pos", "s")))
      .join(broadcast(bench), Seq("s"))
    val covered = hits.groupBy("id")
      .agg(collect_list(col("pos")).as("poss"))
      .select(col("id"),
        array_distinct(flatten(transform(col("poss"),
          p => sequence(p, p + 2)))).as("cov"))
    corp.join(covered, Seq("id"), "left")
      .withColumn("__cov",
        coalesce(col("cov"), expr("CAST(array() AS array<int>)")))
      .withColumn("__words", words)
      .withColumn("__kept",
        filter(col("__words"), (w, i) => !array_contains(col("__cov"), i)))
      .select(col("id").as(idCol),
        size(col("__words")).as("n_words"),
        (size(col("__words")) - size(col("__kept"))).as("n_removed"),
        md5(concat_ws(" ", col("__kept"))).as("clean_hash"),
        (size(col("__cov")) > 0).as("contaminated"))
  }

  /** Cross-corpus contamination check: which corpus documents share at
    * least `minShared` distinct word `shingleSize`-grams with any
    * benchmark document (the train/eval overlap scan every LLM data
    * pipeline runs before training). Output per contaminated corpus
    * doc: (doc_id, n_shared distinct shingles, n_bench_docs hit).
    *
    * Scale shape: the benchmark (eval sets) is normally orders of
    * magnitude smaller than the corpus, so its inverted shingle index
    * is BROADCAST and the corpus side is a scan-local explode +
    * broadcast equi-join + partial-aggregated groupBy on the
    * high-cardinality doc id — the 100 TB corpus is never shuffled at
    * shingle grain. The hint is guarded, not unconditional: when the
    * benchmark's estimated index size (logical byte stats × the
    * shingle blow-up factor) exceeds `autoBroadcastJoinThreshold`, the
    * hint is dropped and the same plan becomes a sort-merge join on
    * the shingle key — a forced broadcast of an oversized index is an
    * executor OOM, the one failure mode worse than a shuffle. Override
    * the estimate with `broadcastIndex = Some(true/false)`.
    */
  def crossContamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minShared: Int = 2,
      broadcastIndex: Option[Boolean] = None): DataFrame = {
    def index(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      explode(graft.functions.NativeText.wordShingles(col(textCol), shingleSize)).as("s"))
    val bench = index(benchmark, "bench_id")
    val doBroadcast = broadcastIndex.getOrElse {
      val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        benchmark.sparkSession.conf
          .get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
      // each input word becomes a ~shingleSize-word shingle row + id
      val estIndexBytes =
        benchmark.queryExecution.optimizedPlan.stats.sizeInBytes * (shingleSize + 1)
      threshold > 0 && estIndexBytes <= threshold
    }
    index(spread(corpus), "id")
      .join(if (doBroadcast) broadcast(bench) else bench, Seq("s"))
      .groupBy("id")
      // two countDistincts in one aggregate would Expand every match
      // row twice (the q13 sf1 class); per-DOC matched sets are
      // bounded by doc length × benchmark overlap, so set-accumulate
      // once and take sizes — one aggregate, no Expand
      .agg(
        size(collect_set(col("s"))).cast("long").as("n_shared"),
        size(collect_set(col("bench_id"))).cast("long").as("n_bench_docs"))
      .filter(col("n_shared") >= minShared)
      .withColumnRenamed("id", "doc_id")
  }

  /** SimHash in a 32-bit space derived from md5 nibbles: for each of 32
    * hex positions of each token's md5, vote +1 if the nibble ≥ 8 else
    * −1; the simhash bit is 1 where the vote sum is positive. Encoded
    * as the 32-char bit string (portable across engines).
    */
  def simhashBits(text: Column): Column = {
    val w = array_distinct(TextAnalysis.words(text))
    val hashes = transform(w, t => md5(t))
    // Single pass over the tokens: fold each token's 32-nibble vote
    // vector into a running array<int> accumulator, then read the signs.
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), 32),
      (acc, h) =>
        zip_with(acc, sequence(lit(1), lit(32)), (a, i) =>
          a + when(h.substr(i, lit(1))
            .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)))
    concat_ws("",
      transform(votes, v => when(v > 0, lit("1")).otherwise(lit("0"))))
  }

  /** Per-doc simhash + near-dup flag: docs sharing their simhash prefix
    * bucket (first `prefixBits` bits) with ≥1 other doc.
    *
    * Bucket sizes come from a groupBy on the bucket key joined back as
    * a BROADCAST (≤ 2^prefixBits rows), not a bucket-partitioned
    * window: the bucket key space is small by construction, so a
    * window would push the whole corpus through a ≤2^prefixBits-task
    * exchange with no map-side combine, while the groupBy's partial
    * aggregation ships only per-task bucket counts. The simhash chain
    * is evaluated once per branch (scan-local CPU) — at scale,
    * recomputing md5s locally is far cheaper than a full-corpus
    * zero-combine shuffle.
    */
  def simhash(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      prefixBits: Int = 16): DataFrame = {
    val hashed = spread(df).select(col(idCol), col(textCol))
      .withColumn("simhash", simhashBits(col(textCol)))
      .withColumn("bucket", substring(col("simhash"), 1, prefixBits))
    val counts = hashed.groupBy("bucket").agg(count(lit(1)).as("bucket_size"))
    hashed.join(broadcast(counts), "bucket")
      .select(col(idCol), col("simhash"), col("bucket"), col("bucket_size"))
  }

  /** Corpus self-coverage of duplicated spans — the "fraction of
    * duplicated n-grams" document filter of the big web-corpus
    * pipelines: for every document, the share of its distinct
    * word-shingles that also occur in ANOTHER document; documents
    * above `threshold` are boilerplate/template mass and flagged.
    * (Cross-corpus contamination is [[crossContamination]]; pairwise
    * similarity is [[ngramJaccard]] — this is the per-document,
    * whole-corpus version those can't express.)
    *
    * Scale shape: the exploded table carries ONLY (id, shingle-md5) —
    * text never leaves the scan. Shingle document frequency comes
    * from a groupBy on the hash, whose map-side combine absorbs
    * Zipf-hot shingles (no cap needed — unlike [[ngramJaccard]] there
    * is no pair expansion, df is just a count); the join back on the
    * hash gets AQE skew-splitting, and the per-doc rollup is bounded
    * by document size.
    *
    * Output: (idCol, n_shingles, n_shared, dup_frac, flagged).
    * Documents with fewer than `shingleSize` words have no shingles:
    * n_shingles = 0, dup_frac = 0.0, never flagged.
    */
  def spanCoverage(
      df: DataFrame,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val inst = spread(df).select(
        col(idCol),
        explode_outer(array_distinct(
          graft.functions.NativeText.wordShingles(col(textCol), shingleSize)))
          .as("s"))
      .select(col(idCol), md5(col("s")).as("sh"))
    val dfreq = inst.filter(col("sh").isNotNull)
      .groupBy("sh").agg(count(lit(1)).as("df"))
    inst.join(dfreq, Seq("sh"), "left")
      .groupBy(idCol)
      .agg(
        count(col("sh")).cast("long").as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac",
        when(col("n_shingles") === 0, 0.0)
          .otherwise(round(col("n_shared").cast("double") / col("n_shingles"), 4)))
      .withColumn("flagged", col("dup_frac") > threshold)
  }

  /** Passage-level exact dedup — the paragraph dedup of the big
    * web-corpus pipelines, re-expressed over fixed `passageLen`-word
    * chunks (this corpus has no newline structure; on one that does,
    * chunking by a delimiter split slots into the same flow). A
    * passage INSTANCE survives iff it is the globally-first occurrence
    * of its content: minimal (doc, pos) over every instance sharing
    * its md5.
    *
    * Scale shape: the instance table explodes to corpus ×
    * words/passageLen rows but carries ONLY (id, pos, hash) — text
    * never rides the passage-hash exchange. First occurrences come
    * from a groupBy on the hash (map-side combine absorbs Zipf-hot
    * boilerplate; a hash-partitioned window would funnel the hottest
    * passage into one task). Surviving positions collapse to one
    * bounded int array per doc, and the full text crosses the wire
    * exactly once, on the id join. Reassembly re-derives chunk text
    * in-row — at scale, recomputing a split locally is far cheaper
    * than shipping every passage string through two shuffles.
    *
    * Output: input columns + (n_passages, n_kept, kept_md5) where
    * kept_md5 hashes the space-joined surviving passages in document
    * order (md5 of '' when every passage first occurred elsewhere).
    */
  def passageDedup(df: DataFrame, passageLen: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def chunksOf(t: Column): Column = {
      val w = TextAnalysis.words(t)
      transform(
        sequence(lit(0), floor((size(w) - 1) / lit(passageLen)).cast("int")),
        i => concat_ws(" ", slice(w, i * passageLen + 1, lit(passageLen))))
    }
    val inst = spread(df)
      .select(col(idCol).cast("long").as("__pd_id"),
        posexplode(chunksOf(col(textCol))).as(Seq("pos", "passage")))
      .select(col("__pd_id"), col("pos"), md5(col("passage")).as("ph"))
    val first = inst.groupBy("ph")
      .agg(min(struct(col("__pd_id"), col("pos"))).as("f"))
    val keptPos = inst.join(first, "ph")
      .filter(col("__pd_id") === col("f.__pd_id") && col("pos") === col("f.pos"))
      .groupBy("__pd_id")
      .agg(sort_array(collect_list(col("pos"))).as("__kept_pos"))
    df.join(keptPos, df(idCol).cast("long") === keptPos("__pd_id"), "left")
      .withColumn("__chunks", chunksOf(col(textCol)))
      .withColumn("n_passages", size(col("__chunks")))
      .withColumn("n_kept", coalesce(size(col("__kept_pos")), lit(0)))
      .withColumn("kept_md5", md5(concat_ws(" ",
        transform(coalesce(col("__kept_pos"), array().cast("array<int>")),
          p => element_at(col("__chunks"), p + 1)))))
      .drop("__pd_id", "__kept_pos", "__chunks")
  }

  /** Per-slice near-duplicate shares — G82's corpus-wide dup number
    * broken down by a slice column (source, language): which feeds
    * contribute the duplication? The table that redirects a crawl
    * budget before the next snapshot.
    *
    * Scale shape: the G2 pair pipeline runs ONCE; its distinct ids
    * join back to the slice column (id-keyed), then one (slice)
    * combine against the per-slice doc totals. Exact counts, one
    * division.
    *
    * Output: (slice, n_docs, n_dup, dup_share).
    */
  def dupShareBySlice(
      df: DataFrame,
      sliceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ids = minhashLshPairs(df, textCol, idCol)
      .select(explode(array(col("idA"), col("idB"))).as("__id"))
      .distinct()
    val docs = df.select(col(idCol).cast("long").as("__id"),
      col(sliceCol).as("slice"))
    docs
      .join(ids.withColumn("__dup", lit(1L)), Seq("__id"), "left")
      .groupBy("slice")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__dup")), lit(0L)).as("n_dup"))
      .withColumn("dup_share",
        round(col("n_dup").cast("double") / col("n_docs"), 4))
  }

  /** Boilerplate shingle report — the shingles present in more than
    * `minShare` of documents: exactly the templated mass that turns
    * every pair-expansion quadratic (the G41 posting caps, the G2
    * bucket caps, G73's degree hubs all exist because of it) and
    * that near-dup verification wrongly counts as similarity. Run
    * this BEFORE tuning dedup thresholds on a new corpus; feeding
    * the list back as a shingle stoplist is the standard mitigation.
    *
    * Scale shape: one shingle explode absorbed by the (shingle)
    * map-side combine (distinct per doc first, so df counts docs);
    * the doc total is a one-row broadcast; output is the ≥minShare
    * slice ordered by share. Exact counts.
    *
    * Output: (shingle, df, share), share ≥ minShare, top k.
    */
  def boilerplateShingles(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minShare: Double = 0.01,
      k: Int = 50): DataFrame = {
    val n = broadcast(df.agg(count(lit(1)).as("__n")))
    spread(df)
      .select(explode(
        graft.functions.NativeText.wordShingles(col(textCol), shingleSize))
        .as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .join(n)
      .withColumn("share", round(col("df").cast("double") / col("__n"), 4))
      .filter(col("share") >= minShare)
      .select(col("shingle"), col("df"), col("share"))
      .orderBy(col("share").desc, col("shingle"))
      .limit(k)
  }

  /** Near-duplicate leakage across train/val/test splits — the eval-
    * hygiene number exact-hash contamination (G17) misses: a G15 hash
    * split assigns every doc a split, the G2 banded MinHash pipeline
    * surfaces near-dup pairs, and every pair STRADDLING a split
    * boundary is leaked signal (a test doc whose near-copy was
    * trained on scores as memorization, not generalization).
    *
    * Scale shape: pairs come from the G2 machinery unchanged; the
    * split attach and matrix are [[PairForms.straddleMatrix]] — a pure
    * projection split, two id-keyed joins, and a tiny combine over an
    * eager-cut pair table (the pair pipeline must not replay per
    * output branch).
    *
    * Output: (split_a, split_b, n_pairs, leak, share) — split_a <=
    * split_b lexicographically, leak = straddling, share of all
    * near-dup pairs.
    */
  def nearDupLeakage(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    PairForms.straddleMatrix(
      minhashLshPairs(df, textCol = textCol, idCol = idCol), df, idCol)

  /** LSH banding PLANNER — the design-time companion to
    * [[bandingEval]]'s measurement: for every (bands, rows) factoring
    * of a k-hash signature, integrate the collision S-curve
    * 1 − (1 − s^r)^b against the target threshold to price expected
    * false-positive area (∫₀ᵗ S) and false-negative area (∫ₜ¹ 1−S),
    * and flag the cost-minimal setting. Run BEFORE the first 100 TB
    * dedup pass; q232 then measures what this predicted.
    *
    * Determinism: the midpoint grid contribution of every cell
    * quantizes to 1e-8 units before summation (no float fold order);
    * pow is evaluated in identical written form both engines. Scale
    * shape: divisors(k) × gridSteps rows — a pure dim computation,
    * one broadcast cross of two dims, one tiny combine, one
    * dim-sized rank window.
    *
    * Output: (bands, rows_per_band, fp_area, fn_area, cost, best).
    */
  def bandingPlan(
      spark: org.apache.spark.sql.SparkSession,
      k: Int = 12,
      threshold: Double = 0.8,
      gridSteps: Int = 200): DataFrame = {
    require(k >= 1 && gridSteps >= 10 && threshold > 0 && threshold < 1)
    import spark.implicits._
    val pairs = (1 to k).filter(k % _ == 0).map(b => (b.toLong, (k / b).toLong))
      .toDF("bands", "rows_per_band")
    val grid = spark.range(gridSteps).toDF("i")
    val s = (col("i").cast("double") + 0.5) / gridSteps
    val prob = lit(1.0) -
      pow(lit(1.0) - pow(s, col("rows_per_band").cast("double")),
        col("bands").cast("double"))
    val cells = broadcast(pairs).crossJoin(grid)
      .withColumn("__fpu",
        when(s < threshold, round(prob / gridSteps * 1e8).cast("long"))
          .otherwise(0L))
      .withColumn("__fnu",
        when(s >= threshold, round((lit(1.0) - prob) / gridSteps * 1e8).cast("long"))
          .otherwise(0L))
      .groupBy("bands", "rows_per_band")
      .agg(sum(col("__fpu")).as("__fp"), sum(col("__fnu")).as("__fn"))
    val w = Window.partitionBy()
      .orderBy((col("__fp") + col("__fn")).asc, col("bands").asc)
    cells
      .withColumn("best", row_number().over(w) === 1)
      .select(col("bands"), col("rows_per_band"),
        round(col("__fp").cast("double") / 1e8, 6).as("fp_area"),
        round(col("__fn").cast("double") / 1e8, 6).as("fn_area"),
        round((col("__fp") + col("__fn")).cast("double") / 1e8, 6).as("cost"),
        col("best"))
  }

  /** Measured banding recall — the eval that replaces G2's
    * THEORETICAL band-collision curve with a number from this
    * corpus: on a deterministic ~(100/sampleMod)% document sample,
    * compute the EXACT all-pairs shingle-Jaccard ground truth and
    * report what fraction of true near-dup pairs the banded MinHash
    * path surfaces. Candidates are exact-verified, so precision is 1
    * by construction and recall is the whole story — run this before
    * trusting a band/row setting on a new 100 TB corpus.
    *
    * Scale shape: the all-pairs step is the ONE deliberately-bounded
    * quadratic in the eval family — sample² pairs via a broadcast
    * loop join of the eager-cut sample against itself (the q92-style
    * capped-verifier exception, sized by `sampleMod`), never the
    * corpus; the candidate side is G2's bucketed path restricted to
    * the sample by two id joins; the report is four one-row
    * aggregates attached by 1-row broadcasts.
    *
    * Output: one row (n_sampled, n_truth, n_candidates, n_hit,
    * recall).
    */
  def bandingEval(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      sampleMod: Int = 20,
      minJaccard: Double = 0.8): DataFrame = {
    require(sampleMod >= 2, s"sampleMod must be >= 2, got $sampleMod")
    val sample = spread(df)
      .filter(Sampling.hashBucket(col(idCol), "bandeval") % sampleMod === 0)
      .select(col(idCol).cast("long").as("id"),
        graft.functions.NativeText.wordShingles(col(textCol), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()
    val truth = sample
      .join(broadcast(sample.select(col("id").as("idB"), col("sh").as("shB"))),
        col("id") < col("idB"))
      .withColumn("__j", round(
        size(array_intersect(col("sh"), col("shB"))).cast("double") /
          size(array_union(col("sh"), col("shB"))), 3))
      .filter(col("__j") >= minJaccard)
      .select(col("id").as("idA"), col("idB"))
      .localCheckpoint()
    val cand = minhashLshPairs(df, textCol, idCol, minJaccard = minJaccard)
      .join(sample.select(col("id").as("idA")), Seq("idA"))
      .join(sample.select(col("id").as("idB")), Seq("idB"))
      .select(col("idA"), col("idB"))
      .localCheckpoint()
    sample.agg(count(lit(1)).as("n_sampled"))
      .join(broadcast(truth.agg(count(lit(1)).as("n_truth"))), lit(true), "left")
      .join(broadcast(cand.agg(count(lit(1)).as("n_candidates"))), lit(true), "left")
      .join(broadcast(truth.join(cand, Seq("idA", "idB"))
        .agg(count(lit(1)).as("n_hit"))), lit(true), "left")
      .select(col("n_sampled"), col("n_truth"), col("n_candidates"), col("n_hit"),
        round(col("n_hit").cast("double") /
          when(col("n_truth") === 0, lit(null)).otherwise(col("n_truth")), 4)
          .as("recall"))
  }

  /** Canonical-document selection — the KEEP side of a near-dup
    * pipeline: given the near-dup pair set, cluster it (G2b's
    * pointer-jumping components) and pick each cluster's keeper by
    * QUALITY (G8's score, ties to the lowest id) instead of the
    * naive min-id — the curation step that keeps the best-written
    * copy of every duplicated document family.
    *
    * Determinism: quality is G8's exact integer-scaled score; the
    * keeper is one O(1)-state `max(struct(quality, −id))` aggregate
    * per cluster (the F10 modePerKey pattern) — never a count-ranked
    * window over members. Scale shape: clustering is G2b (log-
    * diameter rounds, checkpointed); the quality attach is one
    * (id) hash join; the pick is one (comp) combine.
    *
    * Output: (comp, n_members, keeper_id, keeper_quality).
    */
  def canonicalPick(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val comps = clusters(pairs)
    val quality = graft.operators.TextAnalysis.quality(
      docs.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol).cast("long").as("id"),
        round(col("quality") * 10000).cast("long").as("__q"))
    comps.join(quality, Seq("id"))
      .groupBy("comp")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("__q").as("q"), (-col("id")).as("nid"))).as("__best"))
      .select(col("comp"), col("n_members"),
        (-col("__best.nid")).as("keeper_id"),
        (col("__best.q").cast("double") / 10000.0).as("keeper_quality"))
  }

  /** Blocked Jaro–Winkler entity resolution — G67's linkage frame
    * with a SIMILARITY verifier instead of an edit-distance one:
    * Jaro–Winkler forgives transpositions and rewards shared
    * prefixes (the name-matching bias edit distance lacks), so it is
    * the standard scorer for person/product-name linkage. The
    * verifier is graft's native codegen'd [[graft.functions.JaroWinkler]]
    * expression, fuzz-pinned to DuckDB's `jaro_winkler_similarity`
    * doubles exactly, and the keep test runs on the 4dp-ROUNDED
    * score so the threshold boundary is engine-portable.
    *
    * Scale shape: identical to [[blockedLevenshtein]] — blocks above
    * `blockCap` dropped via observe() BEFORE the O(block²) self-join,
    * (a < b) pair order, scoring only on co-blocked survivors.
    *
    * Output: (name_a, name_b, jw).
    */
  def blockedJaroWinkler(
      df: DataFrame,
      textCol: String,
      blockCol: String,
      minSim: Double = 0.9,
      blockCap: Int = graft.GraftConf.ErBlockCap): DataFrame = {
    require(minSim > 0 && minSim <= 1, s"minSim must be in (0,1], got $minSim")
    blockedPairs(df, textCol, blockCol, blockCap, "jw_block")
      .withColumn("jw",
        round(graft.functions.jaroWinkler(col("x.__t"), col("y.__t")), 4))
      .filter(col("jw") >= minSim)
      .select(col("x.__t").as("name_a"), col("y.__t").as("name_b"), col("jw"))
  }

  /** Blocked-Levenshtein entity resolution — the classic record-
    * linkage shape (Fellegi & Sunter framing): a cheap blocking key
    * (caller-chosen — a token, a phonetic code, a length band)
    * restricts candidates, then exact edit distance verifies each
    * within-block pair. Complements G43's FastSS (which guarantees
    * distance ≤ 1 corpus-wide): blocking reaches any `maxDist` but
    * only finds pairs the block key co-locates — the standard ER
    * recall/cost trade, made explicit here.
    *
    * Scale shape: the pair expansion is a self-join on the block key
    * — O(block²) per block, so blocks above `blockCap` are dropped
    * BEFORE the join and reported via observe() (the G2/G41 cap
    * contract), never silently quadratic. Spark's codegen'd
    * `levenshtein` runs only on co-blocked pairs. Input should be at
    * entity grain (one row per distinct name); output pairs order
    * (a < b) so both engines emit the same rows.
    *
    * Output: (name_a, name_b, lev).
    */
  def blockedLevenshtein(
      df: DataFrame,
      textCol: String,
      blockCol: String,
      maxDist: Int = 3,
      blockCap: Int = graft.GraftConf.ErBlockCap): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    blockedPairs(df, textCol, blockCol, blockCap, "er_block")
      .withColumn("lev", levenshtein(col("x.__t"), col("y.__t")))
      .filter(col("lev") <= maxDist)
      .select(col("x.__t").as("name_a"), col("y.__t").as("name_b"), col("lev"))
  }

  /** The capped blocked self-join of [[blockedLevenshtein]] and
    * [[blockedJaroWinkler]]: blocks over `blockCap` drop (reported as
    * dropped_rows / max_block_size) BEFORE the O(block²) join; the
    * capped table is an eager cut, as it joins itself. Output: (x, y)
    * rows, x.__t < y.__t in one block; the caller adds its verifier.
    */
  private def blockedPairs(df: DataFrame, textCol: String, blockCol: String,
      blockCap: Int, site: String): DataFrame = {
    val sized = spread(df)
      .select(col(textCol).as("__t"), col(blockCol).as("__b"))
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy("__b")))
    val capped = PairForms
      .capDrop(sized, site, col("__bn"), blockCap, Some("max_block_size"),
        dropped = "dropped_rows", singletons = true)
      .select(col("__t"), col("__b"))
      .localCheckpoint()
    capped.as("x")
      .join(capped.as("y"),
        col("x.__b") === col("y.__b") && col("x.__t") < col("y.__t"))
  }

  /** Content-defined chunking dedup report per source (G122) — the
    * storage-system dedup measure applied to corpus text: chunk
    * boundaries come from a rolling CONTENT hash (cut after any
    * 8-char window whose polynomial hash ≡ 0 mod `mask`, average
    * chunk ≈ mask chars), so a one-character insertion shifts ONE
    * chunk instead of re-phasing every fixed-width block — the
    * boundary-shift immunity fixed-size shingles (G27) lack. The
    * report says how much of each source is chunk-level redundant:
    * the byte-savings ceiling a dedup store (or a near-dup pass)
    * could reclaim.
    *
    * Determinism: code points via a linear char split (never a
    * per-position substring scan); the window hash is an exact-long
    * 31-polynomial (code point ≤ 0x10FFFF × 31⁷ × 8 < 2⁶³); chunk
    * identity is md5 of the exact substring — every step integer or
    * byte-exact on both engines. Empty documents drop (the one
    * split-semantics divergence) — they carry no chunkable content.
    *
    * Scale shape: boundary discovery is per-row array math (no
    * exchange); the only shuffles are the (source, chunk-hash)
    * combine and the source-grain rollup. `maxChars` bounds the
    * per-row fan-out.
    *
    * Output: (source, n_chunks, n_distinct_chunks, chars_total,
    * chars_distinct, dup_ratio, savings), 4dp ratios.
    */
  def cdcChunks(
      documents: DataFrame,
      maxChars: Int = 512,
      mask: Int = 64,
      window: Int = 8): DataFrame = {
    require(window >= 2 && mask >= 2 && maxChars >= window)
    val txt = substring(col("text"), 1, maxChars)
    // r16 hot-path rewrite (same boundaries, same chunks, same md5s —
    // oracle-identical): the original HOF formulation exploded a
    // position index and FILTERED on a chunk length derived from the
    // boundary array — predicate pushdown alias-substituted that
    // filter, so the ENTIRE per-document boundary discovery (an
    // interpreted transform/filter lambda chain, ~L·w boxed evals per
    // reference) re-ran per exploded chunk row inside a one-task
    // Filter: 669 s at sf0.1. Boundary discovery is now ONE compiled
    // pass per document ([[graft.functions.CdcChunkBounds]], the
    // NativeText house pattern) emitting (start, len) chunk structs
    // directly — identical cuts (Horner form of the same 31-polynomial
    // on the same code points), zero-length chunks dropped inside the
    // expression — and the scan is spread() like every other text
    // operator so the per-document work parallelizes.
    val base = spread(documents)
      .filter(length(col("text")) > 0)
      .select(col("source"), txt.as("__txt"))
    val chunks = base
      .select(col("source"), col("__txt"),
        explode(graft.functions.NativeText.cdcChunkBounds(
          col("__txt"), window, mask)).as("__ck"))
      .select(col("source"),
        md5(col("__txt").substr(col("__ck").getField("s") + 1,
          col("__ck").getField("l"))).as("__h"),
        col("__ck").getField("l").cast("long").as("__clen"))
    chunks
      .groupBy("source", "__h")
      .agg(count(lit(1)).as("__cnt"), max("__clen").as("__len1"))
      .groupBy("source")
      .agg(sum("__cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("__cnt") * col("__len1")).as("chars_total"),
        sum("__len1").as("chars_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
        col("chars_total"), col("chars_distinct"),
        round(lit(1.0) - d(col("n_distinct_chunks")) / d(col("n_chunks")), 4)
          .as("dup_ratio"),
        round(lit(1.0) - d(col("chars_distinct")) / d(col("chars_total")), 4)
          .as("savings"))
  }
}
