package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — training-data pipeline: dedup, ANN/embeddings, sampling,
  * multimodal, graph (SURVEY.md family G, data side).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object PipelineQueries {

  /** Deterministic URL salted from doc_id for the G98 curation family
    * (the corpus has no URL column — same synthesis pattern as q87's
    * PII): mixed-case scheme/host, default and non-default ports,
    * trailing slashes, tracking params, fragments, and a non-URL
    * branch (doc_id % 17 == 0) for the null path. [[SynthUrlSql]] is
    * the character-identical DuckDB spelling.
    */
  private def synthUrl: org.apache.spark.sql.Column =
    when(col("doc_id") % 17 === 0, lit("no scheme here")).otherwise(concat(
      when(col("doc_id") % 3 === 0, lit("HTTP"))
        .when(col("doc_id") % 3 === 1, lit("https"))
        .otherwise(lit("Http")),
      lit("://"),
      when(col("doc_id") % 2 === 0, lit("WWW.Example")).otherwise(lit("cdn.Site")),
      (col("doc_id") % 7).cast("string"), lit(".COM"),
      when(col("doc_id") % 5 === 0, lit(":80"))
        .when(col("doc_id") % 5 === 1, lit(":443"))
        .when(col("doc_id") % 5 === 2, lit(":8080"))
        .otherwise(lit("")),
      lit("/Path/"), (col("doc_id") % 11).cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&id="), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 6 === 0, lit("&gclid=abc&x=1")).otherwise(lit("")),
      when(col("doc_id") % 2 === 1, lit("#Sec2")).otherwise(lit(""))))

  // NOTE: interpolated into stripMargin'd oracle templates, so no line
  // may START with `|` (the outer stripMargin would eat one pipe of a
  // leading `||`) — concatenation operators sit at line ENDS.
  private val SynthUrlSql: String =
    """CASE WHEN doc_id % 17 = 0 THEN 'no scheme here' ELSE
      (CASE WHEN doc_id % 3 = 0 THEN 'HTTP'
            WHEN doc_id % 3 = 1 THEN 'https' ELSE 'Http' END) ||
      '://' ||
      (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example' ELSE 'cdn.Site' END) ||
      CAST(doc_id % 7 AS VARCHAR) || '.COM' ||
      (CASE WHEN doc_id % 5 = 0 THEN ':80'
            WHEN doc_id % 5 = 1 THEN ':443'
            WHEN doc_id % 5 = 2 THEN ':8080' ELSE '' END) ||
      '/Path/' || CAST(doc_id % 11 AS VARCHAR) ||
      (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) ||
      (CASE WHEN doc_id % 6 = 0 THEN '&gclid=abc&x=1' ELSE '' END) ||
      (CASE WHEN doc_id % 2 = 1 THEN '#Sec2' ELSE '' END)
    END"""

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q93_span_coverage" -> ((s, dir) => {
      // duplicated-span document filter: share of each doc's distinct
      // 3-shingles that occur in another doc; > 0.8 flags boilerplate
      val t = Tables(s, dir)
      Dedup.spanCoverage(t.documents, threshold = 0.8)
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          col("dup_frac"), col("flagged"))
    }),
    "q89_temperature_mix" -> ((s, dir) => {
      // temperature-scaled source rebalancing: rate_s = min(1,
      // budgetFrac·N·n_s^τ / (Σ n_t^τ · n_s)), keep iff the doc's
      // md5 uniform clears its source's rate
      val t = Tables(s, dir)
      Sampling.temperatureSample(t.documents,
          temperature = 0.7, budgetFrac = 0.4)
        .select(col("doc_id"), col("source"), col("rate"))
    }),
    "q88_passage_dedup" -> ((s, dir) => {
      // Dolma-style paragraph dedup over 3-word passages: an instance
      // survives iff it is the globally-first (doc, pos) occurrence of
      // its content; kept_md5 re-hashes the surviving text, so a
      // wrong keep decision anywhere mismatches
      val t = Tables(s, dir)
      Dedup.passageDedup(t.documents, passageLen = 3)
        .select(col("doc_id"), col("source"),
          col("n_passages"), col("n_kept"), col("kept_md5"))
    }),
    "q38_multimodal" -> ((s, dir) => {
      // REAL image decode: each text becomes a genuine 24-bit BMP
      // (headers, stride padding, bottom-up BGR rows), and the feature
      // extractor parses it back; the oracle recomputes the channel
      // means from the text bytes, so any decoder offset bug mismatches
      val t = Tables(s, dir)
      Multimodal.documentFeatures(t.documents)
    }),
    "q67_wav_decode" -> ((s, dir) => {
      // REAL audio decode: PCM-16 RIFF/WAVE payloads synthesized from
      // the text bytes, parsed back by the chunk-walking WAV reader
      val t = Tables(s, dir)
      Multimodal.wavFeatures(Multimodal.textToWav(t.documents))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          round(col("mean_abs"), 4).as("mean_abs"))
    }),
    "q68_bmp_resize" -> ((s, dir) => {
      // REAL resize: decode BMP → nearest-neighbor 8×8 → re-encode →
      // decode again for stats; the oracle replays the source-pixel
      // index arithmetic ((x·w)/8, (y·h)/8) on the raw text bytes
      val t = Tables(s, dir)
      Multimodal.extractFeatures(
          Multimodal.resize(Multimodal.textToBmp(t.documents), 8, 8))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          round(col("r_mean"), 4).as("r_mean"),
          round(col("g_mean"), 4).as("g_mean"),
          round(col("b_mean"), 4).as("b_mean"))
    }),
    "q44_frame_sample" -> ((s, dir) => {
      // video-style frame sampling over binary payloads (every 4th
      // 64-byte window); md5 makes the binary frames hash-comparable
      val t = Tables(s, dir)
      val media = t.documents.select(
        col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.sampleFrames(media).toDF()
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("frame_md5"))
    }),
    "q105_dsir_select" -> ((s, dir) => {
      // DSIR data selection: hashed-unigram importance weights toward
      // the English slice, deterministic top-50
      val t = Tables(s, dir)
      Sampling.dsirTopK(t.documents, col("lang") === "en", k = 50)
    }),
    "q106_stratum_cap" -> ((s, dir) => {
      // per-source document cap: exact-10 uniform sample per stratum
      // via the bounded-state (priority, id) aggregate — no windows
      val t = Tables(s, dir)
      Sampling.capPerStratum(t.documents, k = 10)
    }),
    "q332_minhash_rollup" -> ((s, dir) => {
      // I32 mergeable MinHash slice state: elementwise-min of member
      // signatures = MinHash of the slice's shingle UNION (the
      // I6/I16/I12 state/merge contract); pairwise slice Jaccard
      // estimate from component agreement — G55's exact vocabulary
      // join priced down to k strings per slice
      val t = Tables(s, dir)
      Dedup.minhashSliceOverlap(t.documents)
    }),
    "q115_image_dhash" -> ((s, dir) => {
      // perceptual image dedup: REAL BMP decode → 9×8 grayscale dHash
      // → hash-family rollup (the image-level exact-dedup key; hamming
      // distance on the halves is the near-dup relaxation)
      val t = Tables(s, dir)
      Multimodal.dhash(Multimodal.textToBmp(t.documents)).toDF()
        .groupBy("dhash_hi", "dhash_lo")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
    }),
    "q305_audio_gain" -> ((s, dir) => {
      // G96 loudness-normalization plan: REAL WAV decode, full-clip
      // RMS, micro-unit capped gain to target RMS 10000, exact-integer
      // clip census against the published gain
      val t = Tables(s, dir)
      Multimodal.wavGain(Multimodal.textToWav(t.documents)).toDF()
        .select(col("doc_id"), col("n_samples"),
          round(col("rms"), 4).as("rms"), col("gain_mu"), col("n_clipped"))
    }),
    "q326_audio_resample" -> ((s, dir) => {
      // G103 decimation plan: REAL WAV decode → 2:1 block-average
      // downsample (box-filter anti-alias, floor-of-double means) →
      // exact integer output energy + one final RMS float — the
      // "convert to 16 kHz" stage of a speech pipeline as a report
      val t = Tables(s, dir)
      Multimodal.wavResample(Multimodal.textToWav(t.documents)).toDF()
        .select(col("doc_id"), col("n_in"), col("n_out"),
          col("energy_out"), round(col("rms_out"), 4).as("rms_out"))
    }),
    "q116_audio_energy" -> ((s, dir) => {
      // voice-activity shape: REAL WAV decode → tumbling 50-sample
      // windows → exact integer energy + RMS per window
      val t = Tables(s, dir)
      Multimodal.wavWindows(Multimodal.textToWav(t.documents), win = 50).toDF()
        .select(col("doc_id"), col("win_idx"), col("energy"),
          round(col("rms"), 4).as("rms"))
    }),
    "q395_audio_quality" -> ((s, dir) => {
      // G117 audio ingestion gates: clipping count + MEAN-crossing
      // rate (exact multiply-through s·n vs Σs — the textbook ZCR
      // degenerates on DC-offset signals like these byte-derived
      // clips) — REAL WAV decode per partition
      val t = Tables(s, dir)
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      Multimodal.wavQuality(Multimodal.textToWav(t.documents)).toDF()
        .select(col("doc_id"), col("n_samples"), col("n_clipped"),
          col("n_mean_cross"),
          round(d(col("n_clipped")) / col("n_samples"), 4).as("clip_rate"),
          round(d(col("n_mean_cross")) / (col("n_samples") - 1L), 4)
            .as("mcr"))
    }),
    "q396_image_stats" -> ((s, dir) => {
      // G118 image-quality screen: per-channel 8-bin histogram
      // entropy (washed-out/black-frame detector) — REAL BMP decode
      // emits histogram ROWS, the entropy fold stays declarative
      val t = Tables(s, dir)
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val h = Multimodal.imageHistogram(Multimodal.textToBmp(t.documents))
        .toDF()
      val p = d(col("cnt")) / (d(col("width")) * col("height"))
      // integer-grain publish (the q321 halfway-flip contract):
      // round(micro/1e6, 4) flips engines when micro ends in 50
      def ent(ch: String) =
        round(-sum(when(col("channel") === ch, col("__c")).otherwise(lit(0L)))
          .cast("double") / 100.0).cast("long") / 10000.0

      h.withColumn("__c", floor(p * log(p) * 1e6 + 0.5).cast("long"))
        .groupBy("doc_id")
        .agg(max("width").as("width"), max("height").as("height"),
          ent("r").as("r_entropy"), ent("g").as("g_entropy"),
          ent("b").as("b_entropy"))
    }),
    "q151_token_budget" -> ((s, dir) => {
      // greedy token-budget curation: longest documents first until
      // 50k words — bucketed two-phase prefix sum, never a single-task
      // global window
      val t = Tables(s, dir)
      val scored = t.documents.select(col("doc_id"),
        col("n_chars").cast("long").as("quality"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
      Sampling.tokenBudgetSelect(scored, "quality", "n_tokens", 50000L)
    }),
    "q161_silhouette" -> ((s, dir) => {
      // clustering-quality diagnostic over the IVF seed partition:
      // per-cell simplified silhouette from the same in-row broadcast
      // top-2 centroid scoring as cell assignment — no corpus exchange
      val t = Tables(s, dir)
      SimilaritySearch.silhouette(t.embeddings)
    }),
    "q168_containment" -> ((s, dir) => {
      // asymmetric shingle containment — the quotation/boilerplate
      // detector Jaccard misses; same df-capped inverted-index shape
      val t = Tables(s, dir)
      Dedup.shingleContainment(t.documents, blockCol = "source",
        minContainment = 0.6)
    }),
    "q132_dim_stats" -> ((s, dir) => {
      // feature standardization fit: per-dimension mean/std of the
      // quantized embeddings from exact integer sums
      val t = Tables(s, dir)
      SimilaritySearch.dimStats(t.embeddings)
    }),
    "q124_fuzzy_match" -> ((s, dir) => {
      // blocked fuzzy record linkage: nation-blocked customer pairs
      // within Levenshtein distance 1 (native edit distance on both
      // engines — integer-exact gate)
      val t = Tables(s, dir)
      Dedup.fuzzyPairs(t.customer, "c_nationkey", "c_name", "c_custkey")
    }),
    "q125_k_anonymity" -> ((s, dir) => {
      // privacy audit: k-anonymity (group size >= 5) and l-diversity
      // (>= 3 distinct balances) over (nation, segment, balance-kilo)
      // quasi-identifiers
      val t = Tables(s, dir)
      Privacy.kAnonymity(
        t.customer,
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_k")),
        col("c_acctbal"), k = 5, l = 3)
    }),
    "q122_jl_project" -> ((s, dir) => {
      // Johnson-Lindenstrauss reduction 64 -> 8 dims: ±1 sign
      // projection over the quantized integer embeddings — a pure
      // per-row projection, zero shuffle; norm_ratio concentrates
      // near 1 (the JL guarantee, pinned in spec)
      val t = Tables(s, dir)
      SimilaritySearch.jlProject(t.embeddings, outDims = 8)
    }),
    "q121_ppjoin" -> ((s, dir) => {
      // EXACT similarity self-join (prefix filtering): every document
      // pair with shingle-Jaccard >= 1/2, guaranteed — the
      // deterministic complement to MinHash LSH's probabilistic
      // recall; integer threshold arithmetic end to end
      val t = Tables(s, dir)
      Dedup.prefixJaccardJoin(t.documents)
    }),
    "q99_semdedup" -> ((s, dir) => {
      // SemDeDup: embedding-cosine near-dup pairs (LSH-bucketed, q45's
      // machinery) -> connected components -> keeper = min vec_id;
      // singletons keep themselves
      val t = Tables(s, dir)
      val pairs = SimilaritySearch.cosineNearDupPairs(t.embeddings)
        .select("idA", "idB")
      val comp = Dedup.clusters(pairs).withColumnRenamed("id", "vec_id")
      t.embeddings.select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left")
        .withColumn("keeper", coalesce(col("comp"), col("vec_id")))
        .withColumn("kept", col("keeper") === col("vec_id"))
        .select("vec_id", "keeper", "kept")
    }),
    "q100_epoch_mix" -> ((s, dir) => {
      // epoch-based upsampling to deterministic per-source targets
      // (0.5..3.4 epochs derived from the source hash): floor copies
      // plus a fractional md5-uniform top-up
      val t = Tables(s, dir)
      val targets = t.documents.select("source").distinct()
        .withColumn("epochs",
          lit(0.5) + (Sampling.hashBucket(col("source"), "ep") % 30)
            .cast("double") / 10.0)
      Sampling.epochMix(t.documents, targets)
        .select(col("doc_id"), col("source"), col("epochs"),
          col("n_copies"), col("epoch"))
    }),
    "q30_dedup_exact" -> ((s, dir) => {
      val t = Tables(s, dir)
      Dedup.exactRank(t.documents)
        .select("doc_id", "fp", "n_copies", "dup_rank")
    }),
    "q31_dedup_minhash" -> ((s, dir) => {
      val t = Tables(s, dir)
      Dedup.minhashLshPairs(t.documents)
    }),
    "q47_dedup_clusters" -> ((s, dir) => {
      // near-dup components: keeper = min id per cluster
      val t = Tables(s, dir)
      Dedup.clusters(nearDupEdges(t))
    }),
    "q308_soft_dedup" -> ((s, dir) => {
      // G97 soft dedup: 1/cluster-size downweighting instead of
      // removal — per-source raw vs effective corpus size in exact
      // micro-doc units (the mass a mixture budget actually spends)
      val t = Tables(s, dir)
      Dedup.softDedupWeights(t.documents)
    }),
    "q32_dedup_simhash" -> ((s, dir) => {
      val t = Tables(s, dir)
      Dedup.simhash(t.documents)
    }),
    "q33_ngram_jaccard" -> ((s, dir) => {
      val t = Tables(s, dir)
      Dedup.ngramJaccard(t.documents, blockCol = "source")
    }),
    "q34_ann_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      SimilaritySearch.bruteForceTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q303_hard_negatives" -> ((s, dir) => {
      // G95 hard-negative mining: for each anchor, the 5 most-similar
      // WRONG-label vectors — the contrastive-training rows; label
      // inequality rides the broadcast join, not a post-filter
      val t = Tables(s, dir)
      SimilaritySearch.hardNegatives(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q96_pq_ann" -> ((s, dir) => {
      // product-quantization ANN at pqTopK's defaults: 16 subspaces
      // of 4 dims x 16-entry codebooks, corpus encoded to 16 code
      // ints, ADC search via per-query lookup tables — integer
      // squared-L2 throughout
      val t = Tables(s, dir)
      SimilaritySearch.pqTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q90_int8_ann" -> ((s, dir) => {
      // quantized-index ANN: all search math on per-vector-scaled int8
      // codes (scales cancel in cosine), 4x memory of f32 saved
      val t = Tables(s, dir)
      SimilaritySearch.int8TopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q403_mmr" -> ((s, dir) => {
      // G121 MMR diversified retrieval: the de-duplicating layer over
      // the ANN shortlist (plain top-k returns five copies of the
      // same passage); 3 unrolled greedy rounds over a bounded pool,
      // lambda = 0.7
      val t = Tables(s, dir)
      SimilaritySearch.mmrTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q389_sign_ann" -> ((s, dir) => {
      // G114 1-bit sign ANN: 32x-compressed sign codes, XOR+popcount
      // Hamming shortlist (the Charikar hyperplane estimate), exact
      // integer-cosine re-rank of the shortlist only
      val t = Tables(s, dir)
      SimilaritySearch.signTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q35_ann_lsh" -> ((s, dir) => {
      val t = Tables(s, dir)
      SimilaritySearch.lshTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q39_ann_ivf" -> ((s, dir) => {
      val t = Tables(s, dir)
      SimilaritySearch.ivfTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0))
    }),
    "q45_cosine_neardup" -> ((s, dir) => {
      val t = Tables(s, dir)
      SimilaritySearch.cosineNearDupPairs(t.embeddings)
    }),
    "q322_semantic_leakage" -> ((s, dir) => {
      // G100 semantic leakage across the G15 hash split: cosine
      // near-dup pairs straddling a train/val/test boundary — the
      // paraphrase contamination q281's MinHash check misses; a real
      // decontamination pass runs both
      val t = Tables(s, dir)
      SimilaritySearch.semanticLeakage(t.embeddings)
    }),
    "q49_ann_ivf_trained" -> ((s, dir) => {
      // the Lloyd-trained, spill-replicated IVF path (same config the
      // recall spec pins at >= 0.9)
      val t = Tables(s, dir)
      SimilaritySearch.ivfTopK(
        t.embeddings, t.embeddings.filter(col("vec_id") % 50 === 0),
        nCentroids = 8, nProbe = 4, lloydIters = 2, replication = 4)
    }),
    "q54_hash_split" -> ((s, dir) => {
      val t = Tables(s, dir)
      Sampling.hashSplit(t.documents).select("doc_id", "bucket", "split")
    }),
    "q55_contamination" -> ((s, dir) => {
      // train/eval overlap scan: benchmark = every 20th doc, corpus = rest
      val t = Tables(s, dir)
      Dedup.crossContamination(
        t.documents.filter(col("doc_id") % 20 =!= 0),
        t.documents.filter(col("doc_id") % 20 === 0),
        minShared = 5)
    }),
    "q129_decontaminate" -> ((s, dir) => {
      // surgical decontamination: excise every corpus word covered by
      // a benchmark-shared 3-gram (q55's scan, now applied); output
      // the cleaned-text hash so the gate pins the repaired bytes
      val t = Tables(s, dir)
      Dedup.decontaminate(
        t.documents.filter(col("doc_id") % 20 =!= 0),
        t.documents.filter(col("doc_id") % 20 === 0))
    }),
    "q56_stratified_sample" -> ((s, dir) => {
      // per-source sampling rates (20..90, derived deterministically
      // from the source name) applied as a broadcast dim + hash filter
      val t = Tables(s, dir)
      val rates = t.documents.select("source").distinct()
        .withColumn("pct",
          conv(substring(md5(col("source")), 1, 1), 16, 10).cast("int") % 8 * 10 + 20)
      Sampling.stratifiedHashSample(t.documents, rates, "source")
        .select("doc_id", "source", "bucket", "pct")
    }),
    "q58_curation" -> ((s, dir) => {
      // end-to-end corpus curation: Gopher quality gate → exact dedup
      // (keeper = lowest doc_id per content hash AMONG the survivors) →
      // deterministic split assignment → per-(split, lang) rollup
      val t = Tables(s, dir)
      val quality = TextAnalysis.gopherRules(t.documents, minStopwords = 1)
        .filter(col("gopher_pass"))
      val deduped = Dedup.exactRank(quality).filter(col("dup_rank") === 1)
      Sampling.hashSplit(deduped)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"))
    }),
    "q70_snapshot_diff" -> ((s, dir) => {
      // incremental crawl refresh: diff two deterministic snapshot
      // views of the corpus (old = buckets 0–89; new = buckets 5–99
      // with every bucket%7==0 doc revised) and roll up change
      // classes per source — the join ships only (id, md5, source)
      val t = Tables(s, dir)
      val b = t.documents
        .withColumn("bucket", Sampling.hashBucket(col("doc_id"), "snap"))
      val oldSnap = b.filter(col("bucket") < 90)
      val newSnap = b.filter(col("bucket") >= 5)
        .withColumn("text",
          when(col("bucket") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      Snapshot.diff(oldSnap, newSnap, passthrough = Seq("source"))
        .groupBy("change", "source")
        .agg(count(lit(1)).as("n_docs"))
    }),
    "q71_centroid_classify" -> ((s, dir) => {
      // nearest-centroid domain classifier: 80/20 modulo split,
      // per-label integer-sum centroids, broadcast scoring, true
      // label rides along for the confusion readout
      val t = Tables(s, dir)
      SimilaritySearch.centroidClassify(
        t.embeddings.filter(col("vec_id") % 5 =!= 0),
        t.embeddings.filter(col("vec_id") % 5 === 0),
        keep = Seq("label"))
    }),
    "q74_weighted_sample" -> ((s, dir) => {
      // data mixing: cut the corpus to a 200-doc budget under
      // per-source quality weights via deterministic A-ES priorities —
      // broadcast weight dim + TakeOrdered, zero corpus shuffle
      val t = Tables(s, dir)
      val weights = t.documents.select(col("source")).distinct()
        .withColumn("weight",
          (Sampling.hashBucket(col("source"), "w") % 9 + 1).cast("double")
            / lit(10).cast("double"))
      Sampling.weightedPrioritySample(t.documents, weights, "source")
        .select(col("doc_id"), col("source"), round(col("priority"), 4).as("priority"))
    }),
    "q69_pack_sequences" -> ((s, dir) => {
      // training-sequence packing: greedy contiguous fill to a 512-
      // token budget, sequential by doc_id within (source, md5-shard)
      // lanes so every running-sum window partition is bounded
      val t = Tables(s, dir)
      Sampling.packSequences(t.documents, budgetTokens = 512)
        .select(col("doc_id"), col("source"), col("shard"),
          col("n_tokens"), col("bin"), col("bin_tokens"))
    }),
    "q179_dhash_pairs" -> ((s, dir) => {
      // G61 near-dup image pairs: 16-bit band buckets over the dHash
      // (pigeonhole-exact recall at hamming ≤ 3), capped buckets,
      // codegen'd xor/bit_count verify — LSH for pixels
      val t = Tables(s, dir)
      // threshold 12: the synthetic corpus has no true near-dup
      // renders (min candidate hamming 7-9), so the demo threshold
      // sits above it; band recall is exact only <= 3 (see operator)
      Multimodal.dhashPairs(
        Multimodal.dhash(Multimodal.textToBmp(t.documents)).toDF(),
        maxHamming = 12)
    }),
    "q191_ann_recall" -> ((s, dir) => {
      // G65 recall@5 of the LSH index vs brute-force ground truth —
      // the eval that prices the bucketed ANN path's miss rate
      val t = Tables(s, dir)
      val qs = t.embeddings.filter(col("vec_id") % 50 === 0)
      SimilaritySearch.recallAtK(
        SimilaritySearch.bruteForceTopK(t.embeddings, qs),
        SimilaritySearch.lshTopK(t.embeddings, qs))
    }),
    "q344_ann_mrr" -> ((s, dir) => {
      // G109 MRR@5 of the LSH index vs the brute-force true nearest
      // neighbor: WHERE the truth lands in the approx ranking, not
      // just whether it appears (q191's recall) — micro-unit
      // reciprocal ranks, order-free corpus mean
      val t = Tables(s, dir)
      val qs = t.embeddings.filter(col("vec_id") % 50 === 0)
      SimilaritySearch.mrrAtK(
        SimilaritySearch.bruteForceTopK(t.embeddings, qs),
        SimilaritySearch.lshTopK(t.embeddings, qs))
    }),
    "q193_dp_counts" -> ((s, dir) => {
      // G66 ε-DP daily event counts via the geometric mechanism —
      // seeded integer-threshold noise both engines replay exactly
      val t = Tables(s, dir)
      val ev = t.events.withColumn("day",
        dayOf)
      Privacy.dpCounts(ev, Seq("event_type", "day"))
    }),
    "q213_centroid_outliers" -> ((s, dir) => {
      // G71 label-noise candidates: per label, the 5 vectors least
      // like their own centroid
      val t = Tables(s, dir)
      SimilaritySearch.centroidOutliers(t.embeddings)
    }),
    "q221_jw_blocked" -> ((s, dir) => {
      // G72 Jaro-Winkler blocked linkage over part names — the
      // native codegen'd scorer on G67's blocking frame
      val t = Tables(s, dir)
      val names = t.part.groupBy("p_name").agg(count(lit(1)).as("n_parts"))
        .withColumn("block", element_at(split(col("p_name"), " "), 2))
      Dedup.blockedJaroWinkler(names, "p_name", "block", minSim = 0.8)
    }),
    "q223_canonical_pick" -> ((s, dir) => {
      // G74 keep-best curation: quality-ranked keeper per near-dup
      // cluster (G2b components x G8 quality)
      val t = Tables(s, dir)
      Dedup.canonicalPick(t.documents,
        nearDupEdges(t))
    }),
    "q266_dup_by_source" -> ((s, dir) => {
      // G84 which feeds contribute the duplication: per-source
      // near-dup shares from one G2 pair pass
      val t = Tables(s, dir)
      Dedup.dupShareBySlice(t.documents)
    }),
    "q261_boilerplate" -> ((s, dir) => {
      // G83 templated-mass report: shingles in >= 1% of docs — the
      // list that poisons pair expansions and inflates jaccard
      val t = Tables(s, dir)
      Dedup.boilerplateShingles(t.documents)
    }),
    "q259_label_balance" -> ((s, dir) => {
      // G81 supervised-label balance: shares, entropy vs uniform,
      // imbalance ratio over the embedding labels
      val t = Tables(s, dir)
      SimilaritySearch.labelBalance(t.embeddings)
    }),
    "q234_int8_fidelity" -> ((s, dir) => {
      // G77 quantization-fidelity report: cosine between each exact
      // vector and its int8 code — the pre-flight for the code path
      val t = Tables(s, dir)
      SimilaritySearch.int8Fidelity(t.embeddings)
    }),
    "q232_banding_eval" -> ((s, dir) => {
      // G76 measured banding recall: exact all-pairs truth on a 5%
      // sample vs the bucketed MinHash candidates
      val t = Tables(s, dir)
      Dedup.bandingEval(t.documents)
    }),
    "q225_ndcg" -> ((s, dir) => {
      // G75 position-aware index eval: NDCG@5 of the LSH index vs
      // brute-force ground truth (q191's inputs, rank-discounted)
      val t = Tables(s, dir)
      val qs = t.embeddings.filter(col("vec_id") % 50 === 0)
      SimilaritySearch.ndcgAtK(
        SimilaritySearch.bruteForceTopK(t.embeddings, qs),
        SimilaritySearch.lshTopK(t.embeddings, qs))
    }),
    "q212_label_confusion" -> ((s, dir) => {
      // G70 hard-negative mining summary: which labels sit nearest
      // a sampled query's label in embedding space?
      val t = Tables(s, dir)
      SimilaritySearch.labelConfusion(t.embeddings,
        t.embeddings.filter(col("vec_id") % 10 === 0))
    }),
    "q206_embedding_drift" -> ((s, dir) => {
      // G69 per-dimension drift between the two vec_id parities (the
      // train/serve split surrogate), ranked by standardized gap
      val t = Tables(s, dir)
      SimilaritySearch.embeddingDrift(
        t.embeddings.withColumn("split", pmod(col("vec_id"), lit(2))), "split")
    }),
    "q198_dedup_curve" -> ((s, dir) => {
      // G68 dedup threshold-tuning curve: pair and affected-doc counts
      // per verification threshold over the banded candidate set —
      // the report that picks minJaccard before a 100 TB dedup run
      val t = Tables(s, dir)
      val pairs = Dedup.minhashLshPairs(t.documents, minJaccard = 0.5)
      val th = s.range(10, 20).select((col("id") * lit(0.05)).as("t"))
      // threshold compare in integer MILLI-units: the 3dp jaccard and
      // k*0.05 both quantize exactly, so no ulp gap between engines
      // can flip a boundary pair (sf0.1 had one at t = 0.95)
      pairs.crossJoin(broadcast(th))
        .filter(round(col("jaccard") * 1000) >= round(col("t") * 1000))
        .select(col("t"), explode(array(col("idA"), col("idB"))).as("id"))
        .groupBy("t")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("id")).as("n_docs"))
        .select(round(col("t"), 2).as("t"), col("n_pairs"), col("n_docs"))
    }),
    "q194_er_blocked" -> ((s, dir) => {
      // G67 blocked-Levenshtein linkage over part names (block = the
      // noun token); pair volume carried via broadcast name counts
      val t = Tables(s, dir)
      val names = t.part.groupBy("p_name")
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("block", element_at(split(col("p_name"), " "), 2))
      Dedup.blockedLevenshtein(names, "p_name", "block", maxDist = 3)
        .withColumn("lev", col("lev").cast("long"))
        .join(broadcast(names.select(col("p_name").as("name_a"),
          col("n_parts").as("n_a"))), Seq("name_a"))
        .join(broadcast(names.select(col("p_name").as("name_b"),
          col("n_parts").as("n_b"))), Seq("name_b"))
        .select(col("name_a"), col("name_b"), col("lev"), col("n_a"), col("n_b"))
    }),
    "q269_exact_spans" -> ((s, dir) => {
      // G85 exact duplicated-substring spans (Lee et al. 2022): maximal
      // per-doc token regions covered by a corpus-duplicated 8-gram
      val t = Tables(s, dir)
      Dedup.exactDupSpans(t.documents)
    }),
    "q276_video_neardup" -> ((s, dir) => {
      // G88 video near-dup: frame-fingerprint overlap with df-capped
      // posting lists, frame-set Jaccard + modal clip offset
      val t = Tables(s, dir)
      Multimodal.videoNearDup(t.documents)
    }),
    "q278_banding_plan" -> ((s, dir) => {
      // G89 LSH banding planner: integrate the collision S-curve for
      // every factoring of the k=12 signature against the 0.8 target
      Dedup.bandingPlan(s, k = 12, threshold = 0.8)
    }),
    "q280_matryoshka" -> ((s, dir) => {
      // G90 matryoshka truncation fidelity: recall@5 of first-d-dim
      // search vs the full 64-dim exact top-5, d in {8, 16, 32}
      val t = Tables(s, dir)
      SimilaritySearch.matryoshkaFidelity(t.embeddings)
    }),
    "q281_neardup_leakage" -> ((s, dir) => {
      // G91 near-dup leakage across the G15 hash split: banded
      // MinHash pairs that straddle a split boundary = memorization
      // signal exact-hash contamination misses
      val t = Tables(s, dir)
      Dedup.nearDupLeakage(t.documents)
    }),
    "q283_exact_cut" -> ((s, dir) => {
      // G85b exact-substring cut: remove every duplicated >=8-gram
      // span (q269's detection) and account the reduction per doc
      val t = Tables(s, dir)
      Dedup.cutSpans(t.documents)
    }),
    "q285_incremental_pairs" -> ((s, dir) => {
      // I29 incremental near-dup: the delta batch (doc_id % 10 == 0)
      // against the standing corpus — buckets with no delta member
      // never expand; result == full pairing filtered to delta pairs
      val t = Tables(s, dir)
      Dedup.incrementalPairs(
        t.documents.filter(col("doc_id") % 10 =!= 0),
        t.documents.filter(col("doc_id") % 10 === 0))
    }),
    "q289_stoplisted_pairs" -> ((s, dir) => {
      // G92 boilerplate-robust near-dup: the G83 stop-shingle list
      // excised before signatures, banding, and verification
      val t = Tables(s, dir)
      val stop = Dedup.boilerplateShingles(t.documents)
      Dedup.stoplistedMinhashPairs(t.documents, stop)
    }),
    "q315_url_canonical" -> ((s, dir) => {
      // G98 canonical-URL normalization — CCNet/RefinedWeb's first
      // dedup key, as a native codegen expression: lowercase
      // scheme/host, default-port + fragment strip, tracking-param
      // removal, trailing-slash. Pure projection (zero exchanges);
      // the oracle replays every rule with DuckDB string functions.
      val t = Tables(s, dir)
      val u = graft.functions.canonicalUrl(synthUrl)
      t.documents.select(col("doc_id"), u.as("url_canon"),
        regexp_extract(u, "^[a-z]+://([^/:?]*)", 1).as("domain"))
    }),
    "q316_domain_cap" -> ((s, dir) => {
      // G98 per-domain cap: canonical domains feed capPerStratum's
      // bounded-state exact-k sample — the "no domain dominates the
      // mix" step of web curation. Kept set is md5-rank deterministic.
      val t = Tables(s, dir)
      val canon = t.documents
        .select(col("doc_id"), graft.functions.canonicalUrl(synthUrl).as("u"))
        .filter(col("u").isNotNull)
        .select(col("doc_id"),
          regexp_extract(col("u"), "^[a-z]+://([^/:?]*)", 1).as("domain"))
      Sampling.capPerStratum(canon, k = 40, stratumCol = "domain",
        idCol = "doc_id", salt = "domcap")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q30_dedup_exact" ->
      """SELECT doc_id, md5(text) AS fp,
        |       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
        |       CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS INT) AS dup_rank
        |FROM documents""".stripMargin,
    "q31_dedup_minhash" ->
      s"""WITH $MinhashPairsSql
         |SELECT idA, idB, jaccard FROM lshpairs""".stripMargin,
    // Components replay: undirected reachability via a recursive CTE,
    // then min-label per node — identical to hash-to-min convergence.
    "q47_dedup_clusters" ->
      s"""WITH RECURSIVE $MinhashPairsSql,
         |${ComponentsSql("lshpairs")}
         |SELECT id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin,
    // soft-dedup replay: q47's components, micro-unit 1/k weights,
    // singletons (docs outside every pair) weigh 1.0 via the left join.
    "q308_soft_dedup" ->
      s"""WITH RECURSIVE $MinhashPairsSql,
         |${ComponentsSql("lshpairs")},
         |cmp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |ks AS (SELECT comp, CAST(count(*) AS BIGINT) AS k FROM cmp GROUP BY 1),
         |wt AS (
         |  SELECT cmp.id AS doc_id,
         |         CAST(round(1000000.0 / ks.k) AS BIGINT) AS w
         |  FROM cmp JOIN ks USING (comp)
         |)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(coalesce(wt.w, 1000000)) AS BIGINT) AS effective_docs_mu
         |FROM documents d LEFT JOIN wt ON wt.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin,
    "q32_dedup_simhash" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents
        |),
        |toks AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id, unnest(w) AS t FROM docs)),
        |votes AS (
        |  SELECT doc_id, i,
        |         sum(CASE WHEN substring(h, i, 1) IN ('8','9','a','b','c','d','e','f')
        |                  THEN 1 ELSE -1 END) AS v
        |  FROM toks CROSS JOIN (SELECT CAST(unnest(range(1, 33)) AS INT) AS i) pos
        |  GROUP BY 1, 2
        |),
        |hashes AS (
        |  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS simhash
        |  FROM votes GROUP BY 1
        |),
        |buckets AS (SELECT doc_id, simhash, substring(simhash, 1, 16) AS bucket FROM hashes)
        |SELECT doc_id, simhash, bucket,
        |       CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_size
        |FROM buckets""".stripMargin,
    "q33_ngram_jaccard" ->
      s"""WITH $ShinglesSql,
         |$BlockedNgramPairsSql
         |SELECT block, idA, idB,
         |       round(CAST(common AS DOUBLE) / (szA + szB - common), 3) AS jaccard
         |FROM pairs
         |WHERE round(CAST(common AS DOUBLE) / (szA + szB - common), 3) >= 0.5""".stripMargin,
    "q168_containment" ->
      s"""WITH $ShinglesSql,
         |$BlockedNgramPairsSql
         |SELECT block, idA, idB,
         |       round(CAST(common AS DOUBLE) / szA, 3) AS c_ab,
         |       round(CAST(common AS DOUBLE) / szB, 3) AS c_ba
         |FROM pairs
         |WHERE greatest(round(CAST(common AS DOUBLE) / szA, 3),
         |               round(CAST(common AS DOUBLE) / szB, 3)) >= 0.6""".stripMargin,
    "q34_ann_topk" ->
      s"""WITH $VectorsSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT c.vec_id AS id, q.query_id,
         |         ${CosineSql()} AS cos
         |  FROM nrm c CROSS JOIN qs q WHERE c.vec_id != q.query_id
         |),
         |$CosineRankedSql
         |SELECT query_id, id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5""".stripMargin,
    // hard-negative replay: q34's scoring with labels carried and the
    // wrong-label predicate in the join.
    "q303_hard_negatives" ->
      s"""WITH $VectorsSql,
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |qs AS (
         |  SELECT n.vec_id AS query_id, n.q AS qq, n.n AS qn, l.label AS qlbl
         |  FROM nrm n JOIN lbl l ON l.vec_id = n.vec_id
         |  WHERE n.vec_id % 50 = 0
         |),
         |scored AS (
         |  SELECT q.query_id, q.qlbl AS anchor_label, c.vec_id AS id,
         |         l.label AS neg_label,
         |         ${CosineSql()} AS cos
         |  FROM nrm c JOIN lbl l ON l.vec_id = c.vec_id
         |  CROSS JOIN qs q
         |  WHERE c.vec_id != q.query_id AND l.label != q.qlbl
         |),
         |ranked AS (
         |  SELECT query_id, anchor_label, id, neg_label,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS INT) AS rank,
         |         cos
         |  FROM scored
         |)
         |SELECT query_id, anchor_label, id, neg_label, rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= 5""".stripMargin,
    // PQ replay: md5-ordered codebook seeds, per-(vector, subspace,
    // entry) integer squared-L2 distances in one table, codes =
    // argmin with (d, ci) ties, ADC shortlist of 100 = sum of the
    // query's distances at the corpus codes, then exact integer-
    // cosine re-rank of the shortlist. 16 subspaces of 4 dims.
    "q96_pq_ann" ->
      s"""WITH $VectorsSql,
         |cb AS (
         |  SELECT row_number() OVER (ORDER BY h) - 1 AS ci, q AS cq
         |  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, q
         |        FROM nrm ORDER BY h LIMIT 16)
         |),
         |js AS (SELECT unnest(range(0, 16)) AS j),
         |dist AS (
         |  SELECT e.vec_id, j.j, c.ci,
         |         CAST(list_sum(list_transform(range(1, 5), t ->
         |           (e.q[j.j * 4 + t] - c.cq[j.j * 4 + t])
         |             * (e.q[j.j * 4 + t] - c.cq[j.j * 4 + t]))) AS BIGINT) AS d
         |  FROM nrm e CROSS JOIN js j CROSS JOIN cb c
         |),
         |codes AS (
         |  SELECT vec_id, j, ci AS code FROM (
         |    SELECT vec_id, j, ci,
         |           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, ci) AS r
         |    FROM dist
         |  ) WHERE r = 1
         |),
         |scored AS (
         |  SELECT c.vec_id AS id, qd.vec_id AS query_id,
         |         CAST(sum(qd.d) AS BIGINT) AS adist
         |  FROM codes c
         |  JOIN dist qd ON qd.j = c.j AND qd.ci = c.code
         |    AND qd.vec_id % 50 = 0 AND qd.vec_id != c.vec_id
         |  GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT query_id, id FROM (
         |    SELECT query_id, id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY adist, id) AS arank
         |    FROM scored
         |  ) WHERE arank <= 100
         |),
         |rescored AS (
         |  SELECT cand.query_id, cand.id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * qv.q[i])) AS DOUBLE)
         |           / (c.n * qv.n) AS cos
         |  FROM cand
         |  JOIN nrm c ON c.vec_id = cand.id
         |  JOIN nrm qv ON qv.vec_id = cand.query_id
         |),
         |ranked AS (
         |  SELECT query_id, id,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS INT) AS rank,
         |         cos
         |  FROM rescored
         |)
         |SELECT query_id, id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5""".stripMargin,
    // Int8-ANN replay: per-vector max|x| scale, round-half-away int8
    // codes, integer dots — every FP step (widen, ×, ÷, round) is
    // IEEE-exact so the codes agree bit-for-bit across engines.
    "q90_int8_ann" ->
      s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings
        |),
        |q8 AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x ->
        |           CASE WHEN mx = 0 THEN 0
        |                ELSE CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)
        |           END) AS q
        |  FROM b
        |),
        |nz AS (
        |  SELECT vec_id, q,
        |         sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS n
        |  FROM q8
        |  WHERE list_sum(list_transform(q, x -> x * x)) > 0
        |),
        |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nz WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT c.vec_id AS id, q.query_id,
        |         ${CosineSql()} AS cos8
        |  FROM nz c CROSS JOIN qs q WHERE c.vec_id != q.query_id
        |),
        |ranked AS (
        |  SELECT query_id, id,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos8 DESC, id) AS INT) AS rank,
        |         cos8
        |  FROM scored
        |)
        |SELECT query_id, id, rank, round(cos8, 4) AS cos8 FROM ranked WHERE rank <= 5""".stripMargin,
    // MMR replay: the same bounded pool (rel rank <= 8), pool-pair
    // sims, three unrolled greedy argmax rounds with (sc desc, id)
    // total order; the penalty weight is WRITTEN (1.0 - 0.7) so both
    // engines fold the identical double.
    "q403_mmr" ->
      s"""WITH $VectorsSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn
         |       FROM nrm WHERE vec_id % 50 = 0),
         |rel AS MATERIALIZED (
         |  SELECT c.vec_id AS id, q.query_id,
         |         ${CosineSql()} AS rel,
         |         ${CosineRankSql()} AS rk
         |  FROM nrm c CROSS JOIN qs q WHERE c.vec_id != q.query_id
         |),
         |pool AS MATERIALIZED (SELECT query_id, id, rel FROM rel WHERE rk <= 8),
         |pv AS MATERIALIZED (
         |  SELECT p.query_id, p.id, n.q, n.n
         |  FROM pool p JOIN nrm n ON n.vec_id = p.id
         |),
         |sims AS MATERIALIZED (
         |  SELECT x.query_id, x.id AS a, y.id AS b,
         |         CAST(list_sum(list_transform(range(1, 65), i -> x.q[i] * y.q[i]))
         |              AS DOUBLE) / (x.n * y.n) AS sim
         |  FROM pv x JOIN pv y ON x.query_id = y.query_id AND x.id != y.id
         |),
         |s1 AS MATERIALIZED (
         |  SELECT query_id, id AS s1, rel AS rel1 FROM rel WHERE rk = 1
         |),
         |r2 AS (
         |  SELECT p.query_id, p.id, p.rel, s.s1, s.rel1,
         |         0.7 * p.rel - (1.0 - 0.7) * sm.sim AS sc
         |  FROM pool p JOIN s1 s USING (query_id)
         |  JOIN sims sm ON sm.query_id = p.query_id AND sm.a = p.id
         |              AND sm.b = s.s1
         |  WHERE p.id != s.s1
         |),
         |s2 AS MATERIALIZED (
         |  SELECT query_id, s1, rel1, id AS s2, rel AS rel2, sc AS sc2 FROM (
         |    SELECT r2.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sc DESC, id) AS rk FROM r2
         |  ) WHERE rk = 1
         |),
         |r3 AS (
         |  SELECT p.query_id, p.id, p.rel, s.s1, s.rel1, s.s2, s.rel2, s.sc2,
         |         0.7 * p.rel - (1.0 - 0.7) * greatest(sa.sim, sb.sim) AS sc
         |  FROM pool p JOIN s2 s USING (query_id)
         |  JOIN sims sa ON sa.query_id = p.query_id AND sa.a = p.id
         |              AND sa.b = s.s1
         |  JOIN sims sb ON sb.query_id = p.query_id AND sb.a = p.id
         |              AND sb.b = s.s2
         |  WHERE p.id != s.s1 AND p.id != s.s2
         |),
         |s3 AS MATERIALIZED (
         |  SELECT query_id, s1, rel1, s2, rel2, sc2,
         |         id AS s3, rel AS rel3, sc AS sc3 FROM (
         |    SELECT r3.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sc DESC, id) AS rk FROM r3
         |  ) WHERE rk = 1
         |),
         |un AS (
         |  SELECT query_id, 1 AS rank, s1 AS id, rel1 AS rel,
         |         0.7 * rel1 AS mmr FROM s3
         |  UNION ALL SELECT query_id, 2, s2, rel2, sc2 FROM s3
         |  UNION ALL SELECT query_id, 3, s3, rel3, sc3 FROM s3
         |)
         |SELECT query_id, rank, id, round(rel, 4) AS rel, round(mmr, 4) AS mmr
         |FROM un""".stripMargin,
    // Sign-ANN replay: signs on the x1000 grid packed 32/long, XOR
    // Hamming shortlist (ham asc, id), exact-cosine re-rank.
    "q389_sign_ann" ->
      s"""WITH $EmbSql,
         |sg AS MATERIALIZED (
         |  SELECT vec_id, q, n,
         |         list_sum(list_transform(range(1, 33), i ->
         |           CASE WHEN q[i] > 0
         |                THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS h1,
         |         list_sum(list_transform(range(1, 33), i ->
         |           CASE WHEN q[i + 32] > 0
         |                THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS h2
         |  FROM nrm WHERE n > 0
         |),
         |qs AS (
         |  SELECT vec_id AS query_id, q AS qq, n AS qn, h1 AS qh1, h2 AS qh2
         |  FROM sg WHERE vec_id % 50 = 0
         |),
         |pr AS (
         |  SELECT c.vec_id AS id, q.query_id, c.q, c.n, q.qq, q.qn,
         |         CAST(bit_count(xor(c.h1, q.qh1))
         |              + bit_count(xor(c.h2, q.qh2)) AS BIGINT) AS hamming
         |  FROM sg c CROSS JOIN qs q WHERE c.vec_id != q.query_id
         |),
         |sl AS (
         |  SELECT query_id, id, hamming, q, n, qq, qn,
         |         row_number() OVER (PARTITION BY query_id
         |               ORDER BY hamming, id) AS sr
         |  FROM pr
         |),
         |sc AS (
         |  SELECT query_id, id, hamming,
         |         CAST(list_sum(list_transform(range(1, 65), i -> q[i] * qq[i]))
         |              AS DOUBLE) / (n * qn) AS cos
         |  FROM sl WHERE sr <= 50
         |),
         |ranked AS (
         |  SELECT query_id, id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, id) AS INT) AS rank,
         |         cos, hamming
         |  FROM sc
         |)
         |SELECT query_id, id, rank, round(cos, 4) AS cos, hamming
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "q35_ann_lsh" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn, bucket FROM withb WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT c.vec_id AS id, q.query_id,
         |         ${CosineSql()} AS cos
         |  FROM withb c JOIN qs q USING (bucket) WHERE c.vec_id != q.query_id
         |),
         |$CosineRankedSql
         |SELECT query_id, id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5""".stripMargin,
    // The stub decoder is deterministic byte arithmetic over the UTF-8
    // payload (Multimodal.decodeStub); document text is ASCII, so DuckDB
    // can replay it with ascii(substring(...)) per 8-stride position.
    // feat0 is (acc % 1000)/1000f — 3 decimals, so the float detour
    // rounds exactly at 4dp on both sides.
    // replays the BMP round trip from first principles: pixel k's
    // channels are text bytes (3k+2, 3k+1, 3k) mod n, dims are
    // (8 + n%8) × (8 + (n/8)%8), file size 54 + stride·h with 4-byte
    // row padding — a decoder stride/offset/row-order bug mismatches
    "q38_multimodal" ->
      s"""WITH ${TextImageSql("b", "d")},
        |px AS (SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS k FROM d),
        |s AS (
        |  SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
        |         sum(ascii(substring(text, CAST((3*k + 2) % n AS INT) + 1, 1))) AS rs,
        |         sum(ascii(substring(text, CAST((3*k + 1) % n AS INT) + 1, 1))) AS gs,
        |         sum(ascii(substring(text, CAST((3*k) % n AS INT) + 1, 1))) AS bs
        |  FROM px GROUP BY doc_id
        |)
        |SELECT doc_id,
        |       CAST(54 + ((3*w + 3) // 4) * 4 * h AS INT) AS n_bytes,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       round(CAST(rs AS DOUBLE) / (w * h) / 255.0, 4) AS r_mean,
        |       round(CAST(gs AS DOUBLE) / (w * h) / 255.0, 4) AS g_mean,
        |       round(CAST(bs AS DOUBLE) / (w * h) / 255.0, 4) AS b_mean
        |FROM s""".stripMargin,
    "q67_wav_decode" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(CASE WHEN length(text) = 0 THEN 1
        |    ELSE length(text) END AS INT) AS n FROM documents
        |),
        |sm AS (SELECT doc_id, text, n, unnest(range(0, 200)) AS i FROM b),
        |v AS (
        |  SELECT doc_id,
        |         abs(ascii(substring(text, CAST((2*i) % n AS INT) + 1, 1)) * 256
        |             + ascii(substring(text, CAST((2*i + 1) % n AS INT) + 1, 1))
        |             - 32768) AS a
        |  FROM sm
        |)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
        |       CAST(200 AS INT) AS n_samples,
        |       round(CAST(sum(a) AS DOUBLE) / 200, 4) AS mean_abs
        |FROM v GROUP BY doc_id""".stripMargin,
    // nearest-neighbor resize replay: output pixel p=(x,y) of the 8×8
    // target samples source pixel (x·w//8, y·h//8) of the synthesized
    // image, whose channels are the same (3k+c) mod n byte lookups
    "q68_bmp_resize" ->
      s"""WITH ${TextImageSql("b", "d")},
        |o AS (SELECT doc_id, text, n, w, h, unnest(range(0, 64)) AS p FROM d),
        |m AS (
        |  SELECT doc_id, text, n,
        |         ((p // 8) * h // 8) * w + ((p % 8) * w // 8) AS k
        |  FROM o
        |),
        |s AS (
        |  SELECT doc_id,
        |         sum(ascii(substring(text, CAST((3*k + 2) % n AS INT) + 1, 1))) AS rs,
        |         sum(ascii(substring(text, CAST((3*k + 1) % n AS INT) + 1, 1))) AS gs,
        |         sum(ascii(substring(text, CAST((3*k) % n AS INT) + 1, 1))) AS bs
        |  FROM m GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(246 AS INT) AS n_bytes,
        |       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |       round(CAST(rs AS DOUBLE) / 64 / 255.0, 4) AS r_mean,
        |       round(CAST(gs AS DOUBLE) / 64 / 255.0, 4) AS g_mean,
        |       round(CAST(bs AS DOUBLE) / 64 / 255.0, 4) AS b_mean
        |FROM s""".stripMargin,
    // Trained-IVF replay: seed pick, two unrolled Lloyd steps, then
    // replication-4 corpus / nProbe-4 query assignment over the
    // trained centroids; DISTINCT collapses pairs meeting in several
    // cells (cos is identical per pair).
    "q49_ann_ivf_trained" ->
      s"""WITH $VectorsSql,
         |c0 AS (
         |  SELECT md5(CAST(vec_id AS VARCHAR)) AS cell, q AS cv, n AS cn
         |  FROM nrm ORDER BY cell LIMIT 8
         |),
         |${IvfAssignSql("c0", "a1", 1)},
         |${IvfLloydSql("a1", "c1")},
         |${IvfAssignSql("c1", "a2", 1)},
         |${IvfLloydSql("a2", "c2")},
         |${IvfAssignSql("c2", "casgn", 4)},
         |${IvfAssignSql("c2", "qasgn0", 4, "WHERE e.vec_id % 50 = 0")},
         |qasgn AS (SELECT vec_id AS query_id, q AS qq, n AS qn, cell FROM qasgn0),
         |scored AS (
         |  SELECT DISTINCT c.vec_id AS id, qx.query_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * qx.qq[i])) AS DOUBLE)
         |           / (c.n * qx.qn) AS cos
         |  FROM casgn c JOIN qasgn qx USING (cell) WHERE c.vec_id != qx.query_id
         |),
         |$CosineRankedSql
         |SELECT query_id, id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5""".stripMargin,
    // Cosine near-dup replay: pairs sharing an LSH bucket (bucket-cap
    // guarded like q31) with unrounded cosine >= 0.35.
    "q45_cosine_neardup" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |bsz AS (SELECT bucket, count(*) AS bn FROM withb GROUP BY 1),
         |ok AS (
         |  SELECT w.* FROM withb w JOIN bsz USING (bucket)
         |  WHERE bn > 1 AND bn <= ${graft.GraftConf.LshBucketCap}
         |)
         |SELECT a.vec_id AS idA, b.vec_id AS idB,
         |       round(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |             / (a.n * b.n), 4) AS cos
         |FROM ok a JOIN ok b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |      / (a.n * b.n) >= 0.35""".stripMargin,
    // q45's pair chain + the q54 hash split on vec_id + the q281
    // leakage matrix.
    "q322_semantic_leakage" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |bsz AS (SELECT bucket, count(*) AS bn FROM withb GROUP BY 1),
         |ok AS (
         |  SELECT w.* FROM withb w JOIN bsz USING (bucket)
         |  WHERE bn > 1 AND bn <= ${graft.GraftConf.LshBucketCap}
         |),
         |pr AS (
         |  SELECT a.vec_id AS idA, b.vec_id AS idB
         |  FROM ok a JOIN ok b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |        / (a.n * b.n) >= 0.35
         |),
         |sp AS (
         |  SELECT vec_id,
         |         CASE WHEN b < 80 THEN 'train'
         |              WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT vec_id,
         |          ${HexBucketSql("md5(CAST(vec_id AS VARCHAR) || ':split')")} AS b
         |        FROM embeddings)
         |),
         |j AS (
         |  SELECT least(a.split, b.split) AS split_a,
         |         greatest(a.split, b.split) AS split_b
         |  FROM pr p
         |  JOIN sp a ON a.vec_id = p.idA
         |  JOIN sp b ON b.vec_id = p.idB
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       split_a <> split_b AS leak,
         |       round(CAST(count(*) AS DOUBLE) / any_value(tot.n_total), 4) AS share
         |FROM j CROSS JOIN tot GROUP BY 1, 2""".stripMargin,
    // Frame sampling replay: every 4th full 64-byte window of the
    // ASCII payload, hashed — byte-identical to the stub pipeline.
    "q44_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(length(text) AS INT) AS n FROM documents
        |),
        |fr AS (
        |  SELECT doc_id, unnest(range(0, n // 64, 4)) AS fidx, text
        |  FROM b WHERE n >= 64
        |)
        |SELECT doc_id, CAST(fidx AS INT) AS frame_idx,
        |       md5(substring(text, CAST(fidx * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM fr""".stripMargin,
    // IVF replay: same md5-ordered seed pick, Voronoi assignment with
    // (sim DESC, cell) tie-break, nProbe=4 probe cells, exact integer
    // dots — bit-identical doubles end to end.
    "q39_ann_ivf" ->
      s"""WITH $VectorsSql,
         |cent AS (
         |  SELECT md5(CAST(vec_id AS VARCHAR)) AS cell, q AS cv, n AS cn
         |  FROM nrm ORDER BY cell LIMIT 16
         |),
         |casgn AS (
         |  SELECT vec_id, q, n, cell FROM (
         |    SELECT e.vec_id, e.q, e.n, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cv[i])) AS DOUBLE)
         |               / (e.n * c.cn) DESC, c.cell) AS r
         |    FROM nrm e CROSS JOIN cent c
         |  ) WHERE r = 1
         |),
         |qasgn AS (
         |  SELECT vec_id AS query_id, q AS qq, n AS qn, cell FROM (
         |    SELECT e.vec_id, e.q, e.n, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cv[i])) AS DOUBLE)
         |               / (e.n * c.cn) DESC, c.cell) AS r
         |    FROM nrm e CROSS JOIN cent c
         |    WHERE e.vec_id % 50 = 0
         |  ) WHERE r <= 4
         |),
         |scored AS (
         |  SELECT c.vec_id AS id, q.query_id,
         |         ${CosineSql()} AS cos
         |  FROM casgn c JOIN qasgn q USING (cell) WHERE c.vec_id != q.query_id
         |),
         |$CosineRankedSql
         |SELECT query_id, id, rank, round(cos, 4) AS cos FROM ranked WHERE rank <= 5""".stripMargin,
    "q54_hash_split" ->
      s"""WITH h AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':split') AS h FROM documents
         |),
         |b AS (SELECT doc_id, ${HexBucketSql("h")} AS bucket FROM h)
         |SELECT doc_id, bucket,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b""".stripMargin,
    "q55_contamination" ->
      s"""WITH $ShinglesSql,
         |b AS (SELECT id AS bench_id, unnest(list_distinct(sh)) AS s FROM shingled WHERE id % 20 = 0),
         |c AS (SELECT id, unnest(list_distinct(sh)) AS s FROM shingled WHERE id % 20 <> 0)
         |SELECT c.id AS doc_id,
         |       CAST(count(DISTINCT c.s) AS BIGINT) AS n_shared,
         |       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
         |FROM c JOIN b USING (s)
         |GROUP BY 1
         |HAVING count(DISTINCT c.s) >= 5""".stripMargin,
    // excision replay: 1-based positional shingles, covered word
    // positions via the 0..2 offset cross join, string_agg rebuild
    "q129_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id AS id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 20 <> 0
        |),
        |bsh AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id % 20 = 0)
        |  WHERE len(w) >= 3
        |),
        |cpos AS (
        |  SELECT id, w, unnest(range(1, len(w) - 1)) AS i
        |  FROM w WHERE len(w) >= 3
        |),
        |csh AS (SELECT id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM cpos),
        |hits AS (SELECT DISTINCT c.id, c.i FROM csh c JOIN bsh b USING (s)),
        |cov AS (
        |  SELECT DISTINCT id, i + x AS p
        |  FROM hits CROSS JOIN (SELECT unnest(range(0, 3)) AS x)
        |),
        |wpos AS (
        |  SELECT id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS p FROM w
        |),
        |k AS (
        |  SELECT wp.id,
        |         string_agg(CASE WHEN c.p IS NULL THEN wp.word END, ' '
        |           ORDER BY wp.p) AS cleaned,
        |         CAST(sum(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END) AS INT)
        |           AS n_removed
        |  FROM wpos wp LEFT JOIN cov c ON c.id = wp.id AND c.p = wp.p
        |  GROUP BY 1
        |)
        |SELECT w.id AS doc_id, CAST(len(w.w) AS INT) AS n_words,
        |       k.n_removed, md5(coalesce(k.cleaned, '')) AS clean_hash,
        |       k.n_removed > 0 AS contaminated
        |FROM w JOIN k ON k.id = w.id""".stripMargin,
    "q56_stratified_sample" ->
      s"""WITH r AS (
         |  SELECT source,
         |         ((CASE WHEN ascii(substring(md5(source), 1, 1)) >= 97
         |                THEN ascii(substring(md5(source), 1, 1)) - 87
         |                ELSE ascii(substring(md5(source), 1, 1)) - 48 END) % 8) * 10 + 20 AS pct
         |  FROM (SELECT DISTINCT source FROM documents)
         |),
         |h AS (
         |  SELECT d.doc_id, d.source, r.pct,
         |         ${HexBucketSql("md5(CAST(d.doc_id AS VARCHAR) || ':strat')")} AS bucket
         |  FROM documents d JOIN r USING (source)
         |)
         |SELECT doc_id, source, bucket, pct FROM h WHERE bucket < pct""".stripMargin,
    // DSIR oracle: integer bucket counts rebuilt from scratch, the
    // same Laplace smoothing, ln-ratio, and per-doc sum; rounding at
    // the projection absorbs ln()/fold-order ulps.
    "q105_dsir_select" ->
      s"""WITH tok AS (
         |  ${WordRowsSql("w", Seq("doc_id", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t"))}
         |),
         |b AS (SELECT doc_id, t, ${HexValSql("md5(w)", 1, 6)} % 64 AS bkt FROM tok),
         |cnt AS (
         |  SELECT bkt, CAST(count(*) AS BIGINT) AS cc, CAST(sum(t) AS BIGINT) AS tc
         |  FROM b GROUP BY 1
         |),
         |tot AS (SELECT sum(cc) + 64.0 AS ct, sum(tc) + 64.0 AS tt FROM cnt),
         |ratio AS (
         |  SELECT bkt, ln((tc + 1.0) / tt) - ln((cc + 1.0) / ct) AS r FROM cnt, tot
         |),
         |docw AS (
         |  SELECT b.doc_id, sum(r.r) AS logw
         |  FROM b JOIN ratio r USING (bkt) GROUP BY 1
         |)
         |SELECT d.doc_id, d.source, d.lang, round(w.logw, 4) AS logw
         |FROM docw w JOIN documents d USING (doc_id)
         |ORDER BY w.logw DESC, d.doc_id LIMIT 50""".stripMargin,
    // Slice-minhash replay: q31's shingle + md5-seed hash forms, min
    // per (slice, seed), component-agreement estimator.
    "q332_minhash_rollup" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT source, unnest(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM w WHERE len(w) >= 3
        |),
        |st AS (
        |  SELECT source, j, min(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(1, 13)) AS j) seeds
        |  GROUP BY 1, 2
        |)
        |SELECT a.source AS slice_a, b.source AS slice_b,
        |       CAST(count(*) AS BIGINT) AS k,
        |       CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_agree,
        |       round(CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 4) AS jaccard_est
        |FROM st a JOIN st b ON a.j = b.j AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // Silhouette replay: q39's seed pick, full 16-way in-row scoring,
    // top-2 by (sim desc, cell) → a/b distances → per-cell mean.
    "q161_silhouette" ->
      s"""WITH $VectorsSql,
         |cent AS (
         |  SELECT md5(CAST(vec_id AS VARCHAR)) AS cell, q AS cv, n AS cn
         |  FROM nrm ORDER BY cell LIMIT 16
         |),
         |sims AS (
         |  SELECT e.vec_id, c.cell,
         |         CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cv[i])) AS DOUBLE)
         |           / (e.n * c.cn) AS sim
         |  FROM nrm e CROSS JOIN cent c
         |),
         |rk AS (
         |  SELECT vec_id, cell, 1 - sim AS d,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS r
         |  FROM sims
         |),
         |sil AS (
         |  SELECT a.vec_id, a.cell,
         |         CASE WHEN greatest(a.d, b.d) > 0
         |           THEN (b.d - a.d) / greatest(a.d, b.d) ELSE 0 END AS s
         |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id AND a.r = 1 AND b.r = 2
         |)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |       round(avg(s), 4) AS avg_silhouette
         |FROM sil GROUP BY 1""".stripMargin,
    "q151_token_budget" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS quality,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, quality, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM s
        |)
        |SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 50000""".stripMargin,
    "q132_dim_stats" ->
      s"""WITH $EmbSql,
         |e AS (SELECT unnest(q) AS v, unnest(range(0, 64)) AS pos FROM nrm),
         |a AS (
         |  SELECT CAST(pos AS INT) AS pos, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(v) AS BIGINT) AS s, CAST(sum(v*v) AS BIGINT) AS s2
         |  FROM e GROUP BY 1
         |)
         |SELECT pos, n, round(CAST(s AS DOUBLE) / n, 4) AS mean,
         |       round(sqrt((CAST(s2 AS DOUBLE)
         |         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)), 4)
         |         AS std
         |FROM a""".stripMargin,
    "q124_fuzzy_match" ->
      """SELECT a.c_custkey AS idA, b.c_custkey AS idB,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "q125_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_div,
        |       count(*) >= 5 AS k_anonymous,
        |       count(DISTINCT c_acctbal) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2, 3""".stripMargin,
    // JL replay: the projection terms are GENERATED from the same
    // Scala sign matrix as the Column path — one source of truth
    "q122_jl_project" -> {
      val ts = SimilaritySearch.jlProjectSqlTerms(8)
      val pcols = (0 until 8).map(j => s"CAST(${ts(j)} AS BIGINT) AS p$j")
        .mkString(",\n|         ")
      val sp = (0 until 8).map(j => s"p$j*p$j").mkString(" + ")
      s"""WITH $VectorsSql,
         |pj AS (
         |  SELECT vec_id, n,
         |         $pcols
         |  FROM nrm
         |)
         |SELECT vec_id, p0, p1, p2, p3, p4, p5, p6, p7,
         |       round(sqrt(CAST($sp AS DOUBLE) / 8) / n, 4) AS norm_ratio
         |FROM pj""".stripMargin
    },
    // prefix-filter replay: same rarity key (lpad(df)||':'||shingle),
    // same integer prefix length and threshold arithmetic
    // Prefix-pruned posting replay at EXACT-DUP-FAMILY grain (VERDICT
    // r13 item 1): identical-text docs share sz, shingles, prefix keys
    // and every pairwise jaccard, so the whole pipeline runs once per
    // family rep and doc pairs expand only at the END (result grain).
    // df and posting-bucket sizes stay DOC-grain via the family-size
    // weight Σf, and the prefix ORDER stays graft's (df, shingle-lex)
    // — the PrefixPostingCap makes dropped pairs ordering-dependent,
    // so a different global order is not an equivalent oracle; the
    // cap is semantics, not just cost. Row-heavy joins run on 8-byte
    // internal hashes. The doc-grain formulations all died at sf1
    // (118 GB host OOM on string join/window buffers DuckDB 1.0's
    // memory_limit does not account; then an accounted OOM on the
    // Σbn² candidate explosion that exact-dup families square).
    "q121_ppjoin" ->
      s"""WITH $ShinglesSql,
         |fam AS (
         |  SELECT doc_id AS id, md5(text) AS fk
         |  FROM documents WHERE len(string_split(text, ' ')) >= 3
         |),
         |reps AS (SELECT fk, min(id) AS rid, CAST(count(*) AS BIGINT) AS f
         |         FROM fam GROUP BY 1),
         |rsh AS (
         |  SELECT r.fk, r.f, list_distinct(s.sh) AS shd,
         |         len(list_distinct(s.sh)) AS sz
         |  FROM reps r JOIN shingled s ON s.id = r.rid
         |),
         |rdsh AS (SELECT fk, f, sz, s, hash(s) AS hs
         |         FROM (SELECT fk, f, sz, unnest(shd) AS s FROM rsh)),
         |dfx AS (SELECT hs, CAST(sum(f) AS BIGINT) AS df
         |        FROM rdsh GROUP BY 1),
         |pl AS (
         |  SELECT d.fk, d.f, d.sz,
         |         list(struct_pack(df := x.df, h := d.hs)
         |              ORDER BY x.df, d.s) AS ks
         |  FROM rdsh d JOIN dfx x USING (hs)
         |  GROUP BY d.fk, d.f, d.sz
         |),
         |pre AS (
         |  SELECT fk, f, sz, i, ks[i].df AS df, ks[i].h AS hs
         |  FROM pl, LATERAL (SELECT unnest(generate_series(
         |    1, CAST(sz - ((sz * 1 + 2) // 3) + 1 AS BIGINT))) AS i)
         |),
         |post AS (SELECT df, hs, CAST(sum(f) AS BIGINT) AS bn
         |         FROM pre GROUP BY 1, 2),
         |kept AS (
         |  SELECT p.fk, p.f, p.sz, p.i, p.df, p.hs
         |  FROM pre p JOIN post USING (df, hs)
         |  WHERE bn > 1 AND bn <= ${graft.GraftConf.PrefixPostingCap}
         |),
         |rcand AS (
         |  -- PPJoin positional filter mirrored from the Spark side:
         |  -- 1-based i, bound 1 + least(sz - i) == Spark's 0-based
         |  -- 1 + least(sz - 1 - pos); threshold t = 1/2 (cd = 3)
         |  SELECT DISTINCT a.fk AS fkA, b.fk AS fkB
         |  FROM kept a JOIN kept b ON b.df = a.df AND b.hs = a.hs
         |  WHERE (a.fk < b.fk OR (a.fk = b.fk AND a.f >= 2))
         |    AND (1 + least(a.sz - a.i, b.sz - b.i)) * 3
         |        >= (a.sz + b.sz) * 1
         |),
         |rpass AS (
         |  SELECT fkA, fkB,
         |         round(CAST(common AS DOUBLE) / (sza + szb - common), 4)
         |           AS jaccard
         |  FROM (
         |    SELECT c.fkA, c.fkB,
         |           CASE WHEN c.fkA = c.fkB THEN sa.sz
         |                ELSE len(list_intersect(sa.shd, sb.shd)) END AS common,
         |           sa.sz AS sza, sb.sz AS szb
         |    FROM rcand c
         |    JOIN rsh sa ON sa.fk = c.fkA
         |    JOIN rsh sb ON sb.fk = c.fkB)
         |  WHERE common * 2 >= (sza + szb - common) * 1
         |)
         |SELECT least(a.id, b.id) AS idA, greatest(a.id, b.id) AS idB,
         |       r.jaccard
         |FROM rpass r
         |JOIN fam a ON a.fk = r.fkA
         |JOIN fam b ON b.fk = r.fkB
         |WHERE r.fkA < r.fkB
         |UNION ALL
         |SELECT a.id AS idA, b.id AS idB, r.jaccard
         |FROM rpass r
         |JOIN fam a ON a.fk = r.fkA
         |JOIN fam b ON b.fk = r.fkB AND a.id < b.id
         |WHERE r.fkA = r.fkB""".stripMargin,
    // dHash replay: same (3k+c) mod n channel synthesis as q68, 9×8
    // nearest-neighbor grid, integer grayscale, bit = right-neighbor
    // brighter; halves as exact power-of-two sums
    "q115_image_dhash" ->
      s"""WITH $DhashBitsSql
         |SELECT dhash_hi, dhash_lo, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_doc
        |FROM bits GROUP BY 1, 2""".stripMargin,
    // windowed energy replay: q67's sample synthesis, 50-sample
    // tumbling windows, exact integer Σs² then one sqrt
    // gain replay: q116's deterministic sample synthesis, full-clip
    // RMS, the same positive-domain round into micro-units, and the
    // integer clip test against the published gain.
    "q305_audio_gain" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(CASE WHEN length(text) = 0 THEN 1
        |    ELSE length(text) END AS INT) AS n FROM documents
        |),
        |sm AS (SELECT doc_id, text, n, unnest(range(0, 200)) AS i FROM b),
        |v AS (
        |  SELECT doc_id,
        |         ascii(substring(text, CAST((2*i) % n AS INT) + 1, 1)) * 256
        |         + ascii(substring(text, CAST((2*i + 1) % n AS INT) + 1, 1))
        |         - 32768 AS s
        |  FROM sm
        |),
        |e AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |         CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy
        |  FROM v GROUP BY 1
        |),
        |g AS (
        |  SELECT doc_id, n_samples,
        |         sqrt(CAST(energy AS DOUBLE) / n_samples) AS rms_raw
        |  FROM e
        |),
        |g2 AS (
        |  SELECT doc_id, n_samples, rms_raw,
        |         CASE WHEN rms_raw = 0 THEN NULL
        |              ELSE CAST(round(least(4.0, 10000.0 / rms_raw) * 1000000.0)
        |                        AS BIGINT) END AS gain_mu
        |  FROM g
        |),
        |c AS (
        |  SELECT v.doc_id,
        |         CAST(count(*) FILTER (abs(v.s) * g2.gain_mu > 32767000000)
        |              AS BIGINT) AS n_clipped
        |  FROM v JOIN g2 USING (doc_id) GROUP BY 1
        |)
        |SELECT g2.doc_id, g2.n_samples, round(g2.rms_raw, 4) AS rms,
        |       g2.gain_mu, c.n_clipped
        |FROM g2 JOIN c USING (doc_id)""".stripMargin,
    // resample replay: q305's sample synthesis, 2-sample blocks via
    // i // 2, floor-of-double block means, exact integer Σs'².
    "q326_audio_resample" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(CASE WHEN length(text) = 0 THEN 1
        |    ELSE length(text) END AS INT) AS n FROM documents
        |),
        |sm AS (SELECT doc_id, text, n, unnest(range(0, 200)) AS i FROM b),
        |v AS (
        |  SELECT doc_id, i,
        |         ascii(substring(text, CAST((2*i) % n AS INT) + 1, 1)) * 256
        |         + ascii(substring(text, CAST((2*i + 1) % n AS INT) + 1, 1))
        |         - 32768 AS s
        |  FROM sm
        |),
        |r AS (
        |  SELECT doc_id, i // 2 AS j,
        |         CAST(floor(CAST(sum(s) AS DOUBLE) / 2.0) AS BIGINT) AS sr
        |  FROM v GROUP BY 1, 2
        |),
        |e AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out,
        |         CAST(sum(sr * sr) AS BIGINT) AS energy_out
        |  FROM r GROUP BY 1
        |)
        |SELECT doc_id, CAST(200 AS BIGINT) AS n_in, n_out, energy_out,
        |       round(sqrt(CAST(energy_out AS DOUBLE) / n_out), 4) AS rms_out
        |FROM e""".stripMargin,
    "q116_audio_energy" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(CASE WHEN length(text) = 0 THEN 1
        |    ELSE length(text) END AS INT) AS n FROM documents
        |),
        |sm AS (SELECT doc_id, text, n, unnest(range(0, 200)) AS i FROM b),
        |v AS (
        |  SELECT doc_id, i,
        |         ascii(substring(text, CAST((2*i) % n AS INT) + 1, 1)) * 256
        |         + ascii(substring(text, CAST((2*i + 1) % n AS INT) + 1, 1))
        |         - 32768 AS s
        |  FROM sm
        |),
        |w AS (
        |  SELECT doc_id, CAST(i // 50 AS INT) AS win_idx,
        |         CAST(sum(s * s) AS BIGINT) AS energy
        |  FROM v GROUP BY 1, 2
        |)
        |SELECT doc_id, win_idx, energy,
        |       round(sqrt(CAST(energy AS DOUBLE) / 50), 4) AS rms
        |FROM w""".stripMargin,
    // Audio-quality replay: the q116 sample synthesis; clipping at
    // |s| >= 20000, mean crossings in exact integers s*n vs sum.
    "q395_audio_quality" ->
      """WITH b AS (
        |  SELECT doc_id, text, CAST(CASE WHEN length(text) = 0 THEN 1
        |    ELSE length(text) END AS INT) AS n FROM documents
        |),
        |sm AS (SELECT doc_id, text, n, unnest(range(0, 200)) AS i FROM b),
        |v AS MATERIALIZED (
        |  SELECT doc_id, i,
        |         ascii(substring(text, CAST((2*i) % n AS INT) + 1, 1)) * 256
        |         + ascii(substring(text, CAST((2*i + 1) % n AS INT) + 1, 1))
        |         - 32768 AS s
        |  FROM sm
        |),
        |t AS MATERIALIZED (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ns,
        |         CAST(sum(s) AS BIGINT) AS sms,
        |         CAST(count(*) FILTER (abs(s) >= 20000) AS BIGINT) AS nc
        |  FROM v GROUP BY 1
        |),
        |l AS (
        |  SELECT v.doc_id, v.s, t.ns, t.sms, t.nc,
        |         lag(v.s) OVER (PARTITION BY v.doc_id ORDER BY v.i) AS p
        |  FROM v JOIN t USING (doc_id)
        |),
        |c AS (
        |  SELECT doc_id, any_value(ns) AS n_samples, any_value(nc) AS n_clipped,
        |         CAST(count(*) FILTER (p IS NOT NULL AND
        |              ((s * ns >= sms) <> (p * ns >= sms))) AS BIGINT)
        |           AS n_mean_cross
        |  FROM l GROUP BY 1
        |)
        |SELECT doc_id, n_samples, n_clipped, n_mean_cross,
        |       round(CAST(n_clipped AS DOUBLE) / n_samples, 4) AS clip_rate,
        |       round(CAST(n_mean_cross AS DOUBLE) / (n_samples - 1), 4) AS mcr
        |FROM c""".stripMargin,
    // Image-stat replay: the q38 pixel synthesis binned at 32 levels
    // per channel; p·ln p contributions fixed to exact integer
    // MICRO-units (floor(x*1e6 + 0.5)) so the per-channel sum is
    // order-free — 6dp doubles flipped a 4dp boundary at sf0.1 —
    // 4dp entropies (+0.0 normalizes the all-one-bin negative zero).
    "q396_image_stats" ->
      s"""WITH ${TextImageSql("bb", "dd")},
        |px AS (SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS k FROM dd),
        |ch AS (
        |  SELECT doc_id, w, h, 'r' AS channel,
        |         ascii(substring(text, CAST((3*k + 2) % n AS INT) + 1, 1)) // 32 AS bin
        |  FROM px
        |  UNION ALL
        |  SELECT doc_id, w, h, 'g' AS channel,
        |         ascii(substring(text, CAST((3*k + 1) % n AS INT) + 1, 1)) // 32 AS bin
        |  FROM px
        |  UNION ALL
        |  SELECT doc_id, w, h, 'b' AS channel,
        |         ascii(substring(text, CAST((3*k) % n AS INT) + 1, 1)) // 32 AS bin
        |  FROM px
        |),
        |hist AS (
        |  SELECT doc_id, w, h, channel, bin, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ch GROUP BY 1, 2, 3, 4, 5
        |),
        |co AS (
        |  SELECT doc_id, w, h, channel,
        |         CAST(floor((CAST(cnt AS DOUBLE) / (CAST(w AS DOUBLE) * h)) *
        |               ln(CAST(cnt AS DOUBLE) / (CAST(w AS DOUBLE) * h))
        |               * 1e6 + 0.5) AS BIGINT) AS c
        |  FROM hist
        |)
        |SELECT doc_id, CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
        |       CAST(round(CAST(-sum(CASE WHEN channel = 'r' THEN c ELSE 0 END)
        |                  AS DOUBLE) / 100.0) AS BIGINT) / 10000.0 AS r_entropy,
        |       CAST(round(CAST(-sum(CASE WHEN channel = 'g' THEN c ELSE 0 END)
        |                  AS DOUBLE) / 100.0) AS BIGINT) / 10000.0 AS g_entropy,
        |       CAST(round(CAST(-sum(CASE WHEN channel = 'b' THEN c ELSE 0 END)
        |                  AS DOUBLE) / 100.0) AS BIGINT) / 10000.0 AS b_entropy
        |FROM co GROUP BY 1""".stripMargin,
    // Stratum-cap oracle: the window spelling of the same sample —
    // rank by the identical md5-uniform, keep rk <= 10. The Scala
    // side's bounded aggregate must land on the same kept set.
    "q106_stratum_cap" ->
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source ORDER BY
         |           ${HexValSql("md5(CAST(doc_id AS VARCHAR) || ':cap')", 1, 13)},
         |           doc_id) AS rk
         |  FROM documents
         |)
         |SELECT source, doc_id FROM r WHERE rk <= 10""".stripMargin,
    // SemDeDup replay: q45's LSH-bucketed cosine pairs, recursive
    // connected components (q47's walk), keeper = min id, singletons
    // keep themselves.
    "q99_semdedup" ->
      s"""WITH RECURSIVE $VectorsSql,
         |$LshSql,
         |bsz AS (SELECT bucket, count(*) AS bn FROM withb GROUP BY 1),
         |ok AS (
         |  SELECT w.* FROM withb w JOIN bsz USING (bucket)
         |  WHERE bn > 1 AND bn <= ${graft.GraftConf.LshBucketCap}
         |),
         |prs AS (
         |  SELECT a.vec_id AS idA, b.vec_id AS idB
         |  FROM ok a JOIN ok b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |        / (a.n * b.n) >= 0.35
         |),
         |${ComponentsSql("prs")},
         |comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
         |SELECT e.vec_id,
         |       coalesce(c.comp, e.vec_id) AS keeper,
         |       coalesce(c.comp, e.vec_id) = e.vec_id AS kept
         |FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id""".stripMargin,
    // Epoch-mix replay: identical source-hash targets, identical
    // md5-uniform fractional top-up, identical copy expansion.
    "q100_epoch_mix" ->
      s"""WITH tg AS (
         |  SELECT source,
         |         0.5 + CAST(${HexBucketSql("md5(source || ':ep')")} % 30 AS DOUBLE) / 10.0 AS epochs
         |  FROM (SELECT DISTINCT source FROM documents)
         |),
         |d AS (
         |  SELECT doc_id, source, epochs,
         |         CAST(${HexValSql("md5(CAST(doc_id AS VARCHAR) || ':epoch')", 1, 13)} AS DOUBLE)
         |           / CAST(pow(2, 52) AS DOUBLE) AS u
         |  FROM documents JOIN tg USING (source)
         |),
         |n AS (
         |  SELECT doc_id, source, epochs,
         |         CAST(floor(epochs) +
         |           CASE WHEN u < epochs - floor(epochs) THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |  FROM d
         |)
         |SELECT doc_id, source, epochs, n_copies,
         |       unnest(range(0, n_copies)) AS epoch
         |FROM n WHERE n_copies > 0""".stripMargin,
    "q58_curation" ->
      s"""WITH $GopherDocSql,
         |pass AS (
         |  SELECT doc_id, text, lang, n FROM d
         |  WHERE ${gopherPassPred(1)}
         |),
         |ded AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
         |  FROM pass
         |),
         |k AS (
         |  SELECT doc_id, lang, n,
         |         ${HexBucketSql("md5(CAST(doc_id AS VARCHAR) || ':split')")} AS bucket
         |  FROM ded WHERE rk = 1
         |)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |       lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n) AS BIGINT) AS n_words
         |FROM k GROUP BY 1, 2""".stripMargin,
    "q70_snapshot_diff" ->
      s"""WITH b AS (
         |  SELECT doc_id, text, source,
         |         ${HexBucketSql("md5(CAST(doc_id AS VARCHAR) || ':snap')")} AS bucket
         |  FROM documents
         |),
         |o AS (SELECT doc_id, md5(text) AS h, source FROM b WHERE bucket < 90),
         |nn AS (
         |  SELECT doc_id,
         |         md5(CASE WHEN bucket % 7 = 0 THEN text || ' rev2' ELSE text END) AS h,
         |         source
         |  FROM b WHERE bucket >= 5
         |),
         |d AS (
         |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
         |              WHEN nn.doc_id IS NULL THEN 'removed'
         |              WHEN o.h = nn.h THEN 'unchanged'
         |              ELSE 'changed' END AS change,
         |         coalesce(nn.source, o.source) AS source
         |  FROM o FULL JOIN nn ON o.doc_id = nn.doc_id
         |)
         |SELECT change, source, CAST(count(*) AS BIGINT) AS n_docs
         |FROM d GROUP BY 1, 2""".stripMargin,
    "q71_centroid_classify" ->
      s"""WITH $VectorsSql,
         |tr AS (
         |  SELECT e.label, n.q FROM nrm n JOIN embeddings e ON n.vec_id = e.vec_id
         |  WHERE n.vec_id % 5 != 0
         |),
         |sums AS (
         |  SELECT label, i AS pos, CAST(sum(q[i]) AS BIGINT) AS s
         |  FROM tr CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
         |  GROUP BY 1, 2
         |),
         |cents AS (
         |  SELECT pred, cv,
         |         sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS cn
         |  FROM (SELECT label AS pred, list(s ORDER BY pos) AS cv FROM sums GROUP BY label)
         |  WHERE cn > 0
         |),
         |te AS (
         |  SELECT n.vec_id, e.label, n.q, n.n
         |  FROM nrm n JOIN embeddings e ON n.vec_id = e.vec_id
         |  WHERE n.vec_id % 5 = 0
         |),
         |scored AS (
         |  SELECT te.vec_id, te.label, c.pred,
         |         CAST(list_sum(list_transform(range(1, 65), i -> te.q[i] * c.cv[i])) AS DOUBLE)
         |           / (te.n * c.cn) AS cos
         |  FROM te CROSS JOIN cents c
         |),
         |best AS (
         |  SELECT vec_id, label, pred, cos,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pred) AS r
         |  FROM scored
         |)
         |SELECT vec_id, label, pred, round(cos, 4) AS cos FROM best WHERE r = 1""".stripMargin,
    // Streaming replays: the oracle computes the batch result PLUS the
    // append-mode finalization cut (window/session end ≤ max event
    // time − watermark delay) — the emitted set is exactly that,
    // independent of how the file source micro-batched the input.
    "q74_weighted_sample" ->
      s"""WITH w AS (
         |  SELECT source,
         |         CAST(${HexBucketSql("md5(source || ':w')")} % 9 + 1 AS DOUBLE)
         |           / CAST(10 AS DOUBLE) AS weight
         |  FROM (SELECT DISTINCT source FROM documents)
         |),
         |pri AS (
         |  SELECT d.doc_id, d.source,
         |         ln(CAST(${HexValSql("md5(CAST(d.doc_id AS VARCHAR) || ':ws')", 1, 13)} + 1 AS DOUBLE)
         |            / CAST(pow(2, 52) AS DOUBLE)) / w.weight AS priority
         |  FROM documents d JOIN w USING (source)
         |)
         |SELECT doc_id, source, round(priority, 4) AS priority
         |FROM pri ORDER BY priority DESC, doc_id LIMIT 200""".stripMargin,
    // Passage-dedup replay: same 3-word chunking (DuckDB's inclusive
    // 1-based list slice clamps the remnant chunk exactly like
    // Spark's slice), first occurrence by (doc_id, pos) via a window
    // (oracle scale only — the engine uses groupBy+join), surviving
    // text re-joined in document order.
    // Span-coverage replay: distinct shingles per doc, df across the
    // corpus, shared = df > 1; shingle-less docs keep a row with
    // n_shingles = 0 and dup_frac 0.
    "q93_span_coverage" ->
      s"""WITH $ShinglesSql,
         |inst AS (
         |  SELECT id, unnest(list_distinct(sh)) AS s FROM shingled
         |),
         |dfreq AS (SELECT s, count(*) AS df FROM inst GROUP BY s),
         |cov AS (
         |  SELECT inst.id,
         |         CAST(count(*) AS BIGINT) AS n_shingles,
         |         CAST(count(*) FILTER (WHERE df > 1) AS BIGINT) AS n_shared
         |  FROM inst JOIN dfreq USING (s) GROUP BY inst.id
         |),
         |base AS (
         |  SELECT d.doc_id,
         |         coalesce(c.n_shingles, 0) AS n_shingles,
         |         coalesce(c.n_shared, 0) AS n_shared,
         |         CASE WHEN coalesce(c.n_shingles, 0) = 0 THEN 0.0
         |              ELSE round(CAST(c.n_shared AS DOUBLE) / c.n_shingles, 4)
         |         END AS dup_frac
         |  FROM documents d LEFT JOIN cov c ON d.doc_id = c.id
         |)
         |SELECT doc_id, n_shingles, n_shared, dup_frac,
         |       dup_frac > 0.8 AS flagged
         |FROM base""".stripMargin,
    // Temperature-mix replay: identical count → rate arithmetic (rate
    // rounded to 6 dp on both sides before the keep comparison, so a
    // last-ulp pow() difference can't flip a boundary row) and the
    // same md5-uniform keep decision.
    "q89_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
         |),
         |t AS (
         |  SELECT CAST(sum(n_s) AS DOUBLE) AS n_total,
         |         sum(pow(CAST(n_s AS DOUBLE), 0.7)) AS z
         |  FROM c
         |),
         |r AS (
         |  SELECT source,
         |         round(least(1.0,
         |           pow(CAST(n_s AS DOUBLE), 0.7) * n_total * 0.4
         |             / (z * CAST(n_s AS DOUBLE))), 6) AS rate
         |  FROM c, t
         |)
         |SELECT d.doc_id, d.source, r.rate
         |FROM documents d JOIN r USING (source)
         |WHERE CAST(${HexValSql("md5(CAST(d.doc_id AS VARCHAR) || ':temp')", 1, 13)} AS DOUBLE)
         |        / CAST(pow(2, 52) AS DOUBLE) < r.rate""".stripMargin,
    "q88_passage_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
        |),
        |ch AS (
        |  SELECT doc_id, source, ws,
        |         unnest(range(0, (len(ws) - 1) // 3 + 1)) AS pos
        |  FROM w
        |),
        |ins AS (
        |  SELECT doc_id, source, pos,
        |         array_to_string(ws[pos*3 + 1 : pos*3 + 3], ' ') AS passage
        |  FROM ch
        |),
        |rk AS (
        |  SELECT doc_id, source, pos, passage,
        |         row_number() OVER (
        |           PARTITION BY md5(passage) ORDER BY doc_id, pos) AS rn
        |  FROM ins
        |)
        |SELECT doc_id, source,
        |       CAST(count(*) AS INT) AS n_passages,
        |       CAST(count(*) FILTER (WHERE rn = 1) AS INT) AS n_kept,
        |       md5(coalesce(
        |         string_agg(passage, ' ' ORDER BY pos) FILTER (WHERE rn = 1),
        |         '')) AS kept_md5
        |FROM rk GROUP BY doc_id, source""".stripMargin,
    "q69_pack_sequences" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, text,
         |         md5(CAST(doc_id AS VARCHAR) || ':pack') AS h FROM documents
         |),
         |b AS (
         |  SELECT doc_id, source,
         |         CAST(${HexBucketSql("h")} % 16 AS BIGINT) AS shard,
         |         CAST(CASE WHEN length(text) = 0 THEN 0
         |              ELSE length(text) - length(replace(text, ' ', '')) + 1
         |              END AS BIGINT) AS n_tokens
         |  FROM h
         |),
         |r AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY source, shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM b
         |)
         |SELECT doc_id, source, shard, n_tokens,
         |       CAST(bef // 512 AS BIGINT) AS bin,
         |       CAST(bef % 512 AS BIGINT) AS bin_tokens
         |FROM r""".stripMargin,
    // dHash LSH replay: the q115 bits chain, 16-bit band buckets with
    // the same >1/≤cap bounds, distinct pairs, exact xor/bit_count.
    "q179_dhash_pairs" ->
      s"""WITH $DhashBitsSql,
         |bands AS (
         |  SELECT doc_id, dhash_hi, dhash_lo, bb.b,
         |         CASE bb.b WHEN 0 THEN dhash_hi // 65536
         |                   WHEN 1 THEN dhash_hi % 65536
         |                   WHEN 2 THEN dhash_lo // 65536
         |                   ELSE dhash_lo % 65536 END AS bv
         |  FROM bits, (SELECT unnest(range(0, 4)) AS b) bb
         |),
         |ok AS (
         |  SELECT b, bv FROM bands GROUP BY 1, 2
         |  HAVING count(*) > 1 AND count(*) <= ${graft.GraftConf.LshBucketCap}
         |),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS idA, y.doc_id AS idB
         |  FROM bands x
         |  JOIN ok USING (b, bv)
         |  JOIN bands y ON y.b = x.b AND y.bv = x.bv AND x.doc_id < y.doc_id
         |)
         |SELECT idA, idB,
         |       CAST(bit_count(xor(a.dhash_hi, c.dhash_hi))
         |          + bit_count(xor(a.dhash_lo, c.dhash_lo)) AS INT) AS hamming
         |FROM cand
         |JOIN bits a ON a.doc_id = idA
         |JOIN bits c ON c.doc_id = idB
         |WHERE bit_count(xor(a.dhash_hi, c.dhash_hi))
         |    + bit_count(xor(a.dhash_lo, c.dhash_lo)) <= 12""".stripMargin,
    // Recall replay: both rankings re-derived with the same (cos desc,
    // id) tie-break; micro recall is a ratio of exact long totals.
    "q191_ann_recall" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm WHERE vec_id % 50 = 0),
         |ex AS (
         |$ExactTop5Sql
         |),
         |qb AS (SELECT w.vec_id AS query_id, w.q AS qq, w.n AS qn, w.bucket
         |       FROM withb w WHERE w.vec_id % 50 = 0),
         |ap AS (
         |  SELECT query_id, id FROM (
         |    SELECT q.query_id, c.vec_id AS id,
         |           ${CosineRankSql()} AS rank
         |    FROM withb c JOIN qb q USING (bucket) WHERE c.vec_id != q.query_id
         |  ) WHERE rank <= 5
         |),
         |per AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |         CAST(count(a.id) AS BIGINT) AS n_hits
         |  FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.id = e.id
         |  GROUP BY 1
         |),
         |tot AS (SELECT sum(n_hits) AS th, sum(n_exact) AS te FROM per)
         |SELECT query_id, n_exact, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / n_exact, 4) AS recall,
         |       round(CAST(tot.th AS DOUBLE) / tot.te, 4) AS micro_recall
         |FROM per CROSS JOIN tot""".stripMargin,
    // MRR replay: q191's exact/approx rankings, truth = rank-1 only,
    // micro-unit reciprocal ranks (engine-identical floor), one
    // broadcast total.
    "q344_ann_mrr" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm WHERE vec_id % 50 = 0),
         |ex AS (
         |  SELECT query_id, id FROM (
         |    SELECT q.query_id, c.vec_id AS id,
         |           ${CosineRankSql()} AS rank
         |    FROM nrm c CROSS JOIN qs q WHERE c.vec_id != q.query_id
         |  ) WHERE rank = 1
         |),
         |$LshTop5Sql,
         |per AS (
         |  SELECT e.query_id,
         |         CAST(coalesce(a.rank, 0) AS BIGINT) AS rank_of_true,
         |         CASE WHEN a.rank IS NOT NULL
         |              THEN CAST(floor(1e6 / CAST(a.rank AS DOUBLE) + 0.5) AS BIGINT)
         |              ELSE CAST(0 AS BIGINT) END AS rrus
         |  FROM ex e LEFT JOIN ap a ON a.query_id = e.query_id AND a.id = e.id
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nq,
         |               CAST(sum(rrus) AS BIGINT) AS ts FROM per)
         |SELECT per.query_id, per.rank_of_true,
         |       CAST(round(per.rrus / 100.0) AS BIGINT) / 10000.0 AS rr,
         |       round(CAST(tot.ts AS DOUBLE) / CAST(tot.nq AS DOUBLE) / 1e6, 4)
         |         AS mrr
         |FROM per CROSS JOIN tot""".stripMargin,
    // DP replay: the noise CASE below is RENDERED from the same
    // dpThresholds() the Spark side folds over — identical constants
    // by construction, pure integer comparisons.
    "q193_dp_counts" ->
      s"""WITH g AS (
         |${DailyCountsSql("n")}
         |),
         |b AS (
         |  SELECT event_type, day, n,
         |         ${HexValSql("md5(event_type || '|' || CAST(day AS VARCHAR) || ':dp')", 1, 6)} AS bkt
         |  FROM g
         |)
         |SELECT event_type, day,
         |       CAST(greatest(n + ${Privacy.dpNoiseSql("bkt", 0.5, 8)}, 0) AS BIGINT) AS noisy_n,
         |       0.5 AS epsilon
         |FROM b""".stripMargin,
    // ER replay: same noun-token blocking, same exact edit distance,
    // (a < b) pair order, part counts carried per side.
    "q194_er_blocked" ->
      """WITH names AS (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
        |         string_split(p_name, ' ')[2] AS block
        |  FROM part GROUP BY 1
        |)
        |SELECT x.p_name AS name_a, y.p_name AS name_b,
        |       CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS lev,
        |       x.n_parts AS n_a, y.n_parts AS n_b
        |FROM names x JOIN names y ON x.block = y.block AND x.p_name < y.p_name
        |WHERE levenshtein(x.p_name, y.p_name) <= 3""".stripMargin,
    // Curve replay: the UNFILTERED verified-pair CTE from the q31
    // machinery, swept over the same k·0.05 threshold doubles.
    "q198_dedup_curve" ->
      s"""WITH $MinhashPairsSql,
         |th AS (SELECT unnest(range(10, 20)) * 0.05 AS t),
         |f AS (
         |  SELECT t, idA, idB FROM verified CROSS JOIN th
         |  WHERE round(jaccard * 1000) >= round(t * 1000)
         |),
         |e AS (SELECT t, unnest([idA, idB]) AS id FROM f)
         |SELECT round(t, 2) AS t, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT id) AS BIGINT) AS n_docs
         |FROM e GROUP BY t""".stripMargin,
    // Drift replay: same quantized per-(dim, parity) exact sums, same
    // pooled-σ drift, rank over the rounded drift.
    "q206_embedding_drift" ->
      """WITH e AS (
        |  SELECT vec_id % 2 AS g, u.pos, u.v
        |  FROM (
        |    SELECT vec_id,
        |           unnest(list_transform(list_zip(embedding, range(1, len(embedding) + 1)),
        |             z -> struct_pack(pos := z[2] - 1,
        |                              v := CAST(round(CAST(z[1] AS DOUBLE) * 1000) AS BIGINT)))) AS u
        |    FROM embeddings
        |  )
        |),
        |s AS (
        |  SELECT pos,
        |         CAST(count(*) FILTER (g = 0) AS BIGINT) AS n_a,
        |         CAST(sum(v) FILTER (g = 0) AS BIGINT) AS sa,
        |         CAST(sum(v * v) FILTER (g = 0) AS BIGINT) AS qa,
        |         CAST(count(*) FILTER (g <> 0) AS BIGINT) AS n_b,
        |         CAST(sum(v) FILTER (g <> 0) AS BIGINT) AS sb,
        |         CAST(sum(v * v) FILTER (g <> 0) AS BIGINT) AS qb
        |  FROM e GROUP BY 1 HAVING count(*) FILTER (g = 0) > 1 AND count(*) FILTER (g <> 0) > 1
        |),
        |v AS (
        |  SELECT pos, n_a, n_b,
        |         round(CAST(sa AS DOUBLE) / n_a, 4) AS mean_a,
        |         round(CAST(sb AS DOUBLE) / n_b, 4) AS mean_b,
        |         (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n_a) / (n_a - 1) AS va,
        |         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n_b) / (n_b - 1) AS vb,
        |         CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b AS gap
        |  FROM s
        |),
        |dr AS (
        |  SELECT pos, n_a, n_b, mean_a, mean_b,
        |         round(abs(gap) / NULLIF(sqrt(((n_a - 1) * va + (n_b - 1) * vb)
        |                                      / (n_a + n_b - 2)), 0), 4) AS drift
        |  FROM v
        |)
        |SELECT pos, n_a, n_b, mean_a, mean_b, drift,
        |       CAST(rank() OVER (ORDER BY drift DESC NULLS LAST, pos) AS BIGINT) AS rank
        |FROM dr""".stripMargin,
    // Confusion replay: the q34 brute-force ranking on the %10 query
    // sample, labels attached per side, label-partitioned share.
    "q212_label_confusion" ->
      s"""WITH $VectorsSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm WHERE vec_id % 10 = 0),
         |nn AS (
         |$ExactTop5Sql
         |),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS l FROM embeddings),
         |m AS (
         |  SELECT lq.l AS label_q, ln.l AS label_n, CAST(count(*) AS BIGINT) AS n
         |  FROM nn JOIN lab lq ON lq.vec_id = nn.query_id
         |          JOIN lab ln ON ln.vec_id = nn.id
         |  GROUP BY 1, 2
         |)
         |SELECT label_q, label_n, n,
         |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY label_q), 4) AS share,
         |       label_q <> label_n AS hard_negative
         |FROM m""".stripMargin,
    // Outlier replay: the q71 centroid CTEs over the FULL set, cosine
    // to the OWN label's centroid, (cos asc, id) rank per label.
    "q213_centroid_outliers" ->
      s"""WITH $EmbSql,
         |tr AS (
         |  SELECT CAST(e.label AS BIGINT) AS lbl, n.vec_id, n.q, n.n
         |  FROM nrm n JOIN embeddings e ON n.vec_id = e.vec_id
         |  WHERE n.n > 0
         |),
         |sums AS (
         |  SELECT lbl, i AS pos, CAST(sum(q[i]) AS BIGINT) AS s
         |  FROM tr CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
         |  GROUP BY 1, 2
         |),
         |cents AS (
         |  SELECT lbl, cv,
         |         sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) AS cn
         |  FROM (SELECT lbl, list(s ORDER BY pos) AS cv FROM sums GROUP BY lbl)
         |  WHERE sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)) > 0
         |),
         |scored AS (
         |  SELECT tr.lbl AS label, tr.vec_id,
         |         round(CAST(list_sum(list_transform(range(1, 65), i -> tr.q[i] * c.cv[i])) AS DOUBLE)
         |               / (tr.n * c.cn), 4) AS cos
         |  FROM tr JOIN cents c ON c.lbl = tr.lbl
         |),
         |rk AS (
         |  SELECT label, vec_id, cos,
         |         CAST(row_number() OVER (PARTITION BY label ORDER BY cos ASC, vec_id) AS BIGINT) AS rank
         |  FROM scored
         |)
         |SELECT label, vec_id, cos, rank FROM rk WHERE rank <= 5""".stripMargin,
    // Jaro-Winkler linkage replay: DuckDB's native scorer IS the
    // contract the graft expression is fuzz-pinned to; same block key,
    // same (a < b) order, same 4dp-rounded keep test. (The 512 block
    // cap cannot fire at oracle scale — blocks are ≤ 8 names.)
    "q221_jw_blocked" ->
      """WITH names AS (
        |  SELECT p_name, string_split(p_name, ' ')[2] AS block
        |  FROM part GROUP BY 1, 2
        |)
        |SELECT x.p_name AS name_a, y.p_name AS name_b,
        |       round(jaro_winkler_similarity(x.p_name, y.p_name), 4) AS jw
        |FROM names x JOIN names y ON x.block = y.block AND x.p_name < y.p_name
        |WHERE round(jaro_winkler_similarity(x.p_name, y.p_name), 4) >= 0.8""".stripMargin,
    // Canonical-pick replay: the q47 component walk joined to the q37
    // quality integer, keeper by (quality desc, id) rank.
    "q223_canonical_pick" ->
      s"""WITH RECURSIVE $MinhashPairsSql,
         |${ComponentsSql("lshpairs")},
         |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |${DocsBaseSql()},
         |$QualityIntSql,
         |r AS (
         |  SELECT c.comp, c.id, q.qi,
         |         row_number() OVER (PARTITION BY c.comp ORDER BY q.qi DESC, c.id) AS rn,
         |         count(*) OVER (PARTITION BY c.comp) AS nm
         |  FROM comps c JOIN q ON q.doc_id = c.id
         |)
         |SELECT comp, CAST(nm AS BIGINT) AS n_members, id AS keeper_id,
         |       CAST(qi AS DOUBLE) / 10000.0 AS keeper_quality
         |FROM r WHERE rn = 1""".stripMargin,
    // NDCG replay: q191's exact/approx rank tables, per-rank discount
    // gains quantized once to integer micro-units, exact long sums.
    "q225_ndcg" ->
      s"""WITH $VectorsSql,
         |$LshSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm WHERE vec_id % 50 = 0),
         |ex AS (
         |$ExactTop5Sql
         |),
         |$LshTop5Sql,
         |dcg AS (
         |  SELECT a.query_id,
         |         CAST(sum(CASE WHEN e.id IS NOT NULL
         |              THEN CAST(round(1e6 / (ln(a.rank + 1.0) / ln(2.0))) AS BIGINT)
         |              ELSE 0 END) AS BIGINT) AS dcg_u
         |  FROM ap a LEFT JOIN ex e ON e.query_id = a.query_id AND e.id = a.id
         |  GROUP BY 1
         |),
         |per AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),
         |ideal AS (
         |  SELECT query_id, n_exact,
         |         CAST(list_sum(list_transform(range(1, CAST(n_exact AS INT) + 1),
         |              r -> CAST(round(1e6 / (ln(r + 1.0) / ln(2.0))) AS BIGINT))) AS BIGINT) AS idcg_u
         |  FROM per
         |),
         |j AS (
         |  SELECT i.query_id, i.n_exact, i.idcg_u, coalesce(d.dcg_u, 0) AS d_u
         |  FROM ideal i LEFT JOIN dcg d USING (query_id)
         |),
         |tot AS (SELECT sum(d_u) AS td, sum(idcg_u) AS ti FROM j)
         |SELECT query_id, n_exact,
         |       round(CAST(d_u AS DOUBLE) / idcg_u, 4) AS ndcg,
         |       round(CAST(tot.td AS DOUBLE) / tot.ti, 4) AS micro_ndcg
         |FROM j CROSS JOIN tot""".stripMargin,
    // Banding-eval replay: exact all-pairs truth on the same 5%
    // md5 sample, candidates = the q31 lshpairs restricted to it.
    "q232_banding_eval" ->
      s"""WITH $MinhashPairsSql,
         |samp AS (
         |  SELECT id, list_distinct(sh) AS dsh FROM shingled
         |  WHERE ${HexBucketSql("md5(CAST(id AS VARCHAR) || ':bandeval')")} % 20 = 0
         |),
         |truth AS (
         |  SELECT x.id AS idA, y.id AS idB
         |  FROM samp x JOIN samp y ON x.id < y.id
         |  WHERE round(CAST(len(list_intersect(x.dsh, y.dsh)) AS DOUBLE)
         |        / len(list_distinct(list_concat(x.dsh, y.dsh))), 3) >= 0.8
         |),
         |scand AS (
         |  SELECT p.idA, p.idB FROM lshpairs p
         |  JOIN samp a ON a.id = p.idA JOIN samp b ON b.id = p.idB
         |),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled FROM samp),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM scand),
         |nh AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM truth t JOIN scand c ON c.idA = t.idA AND c.idB = t.idB
         |)
         |SELECT n_sampled, n_truth, n_candidates, n_hit,
         |       round(CAST(n_hit AS DOUBLE)
         |             / CASE WHEN n_truth = 0 THEN NULL ELSE n_truth END, 4) AS recall
         |FROM ns CROSS JOIN nt CROSS JOIN nc CROSS JOIN nh""".stripMargin,
    // Int8-fidelity replay: q90's code CTE against EmbSql's exact
    // ints, same 4dp fidelity, exact 1e-4 mean units.
    "q234_int8_fidelity" ->
      s"""WITH $EmbSql,
         |b8 AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CASE WHEN mx = 0 THEN 0
         |                ELSE CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)
         |           END) AS q8
         |  FROM (SELECT vec_id, embedding,
         |               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
         |        FROM embeddings)
         |),
         |n8 AS (
         |  SELECT vec_id, q8,
         |         sqrt(CAST(list_sum(list_transform(q8, x -> x * x)) AS DOUBLE)) AS n8
         |  FROM b8 WHERE list_sum(list_transform(q8, x -> x * x)) > 0
         |),
         |f AS (
         |  SELECT n.vec_id,
         |         round(CAST(list_sum(list_transform(range(1, 65), i -> n.q[i] * c.q8[i])) AS DOUBLE)
         |               / (n.n * c.n8), 6) AS fid
         |  FROM nrm n JOIN n8 c USING (vec_id)
         |  WHERE n.n > 0
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors, min(fid) AS min_fid,
         |       round(CAST(sum(CAST(round(fid * 1000000) AS BIGINT)) AS DOUBLE)
         |             / count(*) / 1e6, 6) AS mean_fid,
         |       CAST(count(*) FILTER (fid < 0.999) AS BIGINT) AS n_below
         |FROM f""".stripMargin,
    // Label-balance replay: exact shares, 6dp entropy contributions.
    "q259_label_balance" ->
      """WITH g AS (
        |  SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings WHERE label IS NOT NULL GROUP BY 1
        |),
        |w AS (
        |  SELECT label, n, sum(n) OVER () AS t,
        |         count(*) OVER () AS k,
        |         max(n) OVER () AS mx, min(n) OVER () AS mn
        |  FROM g
        |),
        |c AS (
        |  SELECT *, round(-(CAST(n AS DOUBLE) / t) * ln(CAST(n AS DOUBLE) / t), 6) AS ec
        |  FROM w
        |)
        |SELECT label, n, round(CAST(n AS DOUBLE) / t, 4) AS share,
        |       round(sum(ec) OVER (), 4) AS entropy,
        |       round(ln(CAST(k AS DOUBLE)), 4) AS uniform_entropy,
        |       round(CAST(mx AS DOUBLE) / CAST(mn AS DOUBLE), 4) AS imbalance
        |FROM c""".stripMargin,
    // Boilerplate replay: distinct per-doc shingles, doc-share slice.
    "q261_boilerplate" ->
      s"""WITH $ShinglesSql,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |dfc AS (
         |  SELECT s AS shingle, CAST(count(*) AS BIGINT) AS df
         |  FROM (SELECT id, unnest(list_distinct(sh)) AS s FROM shingled)
         |  GROUP BY 1
         |)
         |SELECT shingle, df, round(CAST(df AS DOUBLE) / n.n, 4) AS share
         |FROM dfc CROSS JOIN n
         |WHERE round(CAST(df AS DOUBLE) / n.n, 4) >= 0.01
         |ORDER BY share DESC, shingle LIMIT 50""".stripMargin,
    // Dup-by-source replay: the q31 pair ids joined back to the slice.
    "q266_dup_by_source" ->
      s"""WITH $MinhashPairsSql,
         |ids AS (SELECT idA AS id FROM lshpairs UNION SELECT idB FROM lshpairs)
         |SELECT d.source AS slice, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(ids.id) AS BIGINT) AS n_dup,
         |       round(CAST(count(ids.id) AS DOUBLE) / count(*), 4) AS dup_share
         |FROM documents d LEFT JOIN ids ON ids.id = d.doc_id
         |GROUP BY 1""".stripMargin,
    // Exact-substring replay: same md5 8-gram windows, same >=2
    // corpus-occurrence test, same gaps-and-islands span merge.
    "q269_exact_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |$SpanHitsSql,
        |isl AS (
        |  SELECT doc_id, i,
        |         sum(CASE WHEN runmax IS NULL OR i > runmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m
        |)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
        |       CAST(max(i) + 8 AS BIGINT) AS span_end,
        |       CAST(max(i) + 8 - min(i) AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, isl""".stripMargin,
    // Video near-dup replay: same 16-byte frame grid, md5 sigs,
    // first-occurrence positions, df-cap 16, modal offset tie-break
    // (count desc, offset asc), 3dp Jaccard.
    "q276_video_neardup" ->
      """WITH fr AS (
        |  SELECT doc_id AS id, CAST(i AS BIGINT) AS pos,
        |         md5(substr(text, CAST(i * 16 + 1 AS INT), 16)) AS sig
        |  FROM documents, unnest(range(0, length(text) // 16)) u(i)
        |  WHERE length(text) >= 16
        |),
        |ff AS (SELECT id, sig, CAST(min(pos) AS BIGINT) AS pos FROM fr GROUP BY 1, 2),
        |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS nf FROM ff GROUP BY 1),
        |pl AS (
        |  SELECT sig FROM ff GROUP BY sig
        |  HAVING count(*) > 1 AND count(*) <= 16
        |),
        |pr AS (
        |  SELECT a.id AS idA, b.id AS idB, b.pos - a.pos AS off
        |  FROM ff a JOIN pl USING (sig) JOIN ff b USING (sig)
        |  WHERE a.id < b.id
        |),
        |po AS (
        |  SELECT idA, idB, off, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pr GROUP BY 1, 2, 3
        |),
        |pw AS (
        |  SELECT idA, idB, off, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY idA, idB) AS BIGINT) AS shared,
        |         row_number() OVER (PARTITION BY idA, idB
        |                            ORDER BY cnt DESC, off) AS rn
        |  FROM po
        |)
        |SELECT pw.idA, pw.idB, shared,
        |       round(CAST(shared AS DOUBLE) / (sa.nf + sb.nf - shared), 3) AS jaccard,
        |       off AS offset_mode
        |FROM pw
        |JOIN sz sa ON sa.id = pw.idA
        |JOIN sz sb ON sb.id = pw.idB
        |WHERE rn = 1 AND shared >= 3""".stripMargin,
    // Banding-plan replay: same divisor grid, same midpoint S-curve,
    // same 1e-8 cell quantization and (cost, bands) argmin.
    "q278_banding_plan" ->
      """WITH pairs AS (
        |  SELECT CAST(b AS BIGINT) AS bands, CAST(12 // b AS BIGINT) AS rows_per_band
        |  FROM unnest([1, 2, 3, 4, 6, 12]) t(b)
        |),
        |grid AS (SELECT (CAST(i AS DOUBLE) + 0.5) / 200.0 AS s FROM range(0, 200) u(i)),
        |c AS (
        |  SELECT bands, rows_per_band, s,
        |         1.0 - pow(1.0 - pow(s, CAST(rows_per_band AS DOUBLE)),
        |                   CAST(bands AS DOUBLE)) AS prob
        |  FROM pairs, grid
        |),
        |a AS (
        |  SELECT bands, rows_per_band,
        |         CAST(sum(CASE WHEN s < 0.8
        |           THEN CAST(round(prob / 200.0 * 1e8) AS BIGINT) ELSE 0 END) AS BIGINT) AS fpu,
        |         CAST(sum(CASE WHEN s >= 0.8
        |           THEN CAST(round((1.0 - prob) / 200.0 * 1e8) AS BIGINT) ELSE 0 END) AS BIGINT) AS fnu
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT bands, rows_per_band,
        |       round(CAST(fpu AS DOUBLE) / 1e8, 6) AS fp_area,
        |       round(CAST(fnu AS DOUBLE) / 1e8, 6) AS fn_area,
        |       round(CAST(fpu + fnu AS DOUBLE) / 1e8, 6) AS cost,
        |       row_number() OVER (ORDER BY fpu + fnu, bands) = 1 AS best
        |FROM a""".stripMargin,
    // Matryoshka replay: full-width exact top-5 once, truncated
    // brute force per width over the SAME quantized vectors.
    "q280_matryoshka" ->
      s"""WITH $VectorsSql,
         |qs AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm WHERE vec_id % 50 = 0),
         |ex AS MATERIALIZED (
         |$ExactTop5Sql
         |),
         |tot AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |               CAST(count(*) AS BIGINT) AS n_exact FROM ex),
         |nrm8 AS (
        |  SELECT vec_id, q,
        |         sqrt(CAST(list_sum(list_transform(q[1:8], x -> x * x)) AS DOUBLE)) AS n
        |  FROM nrm WHERE list_sum(list_transform(q[1:8], x -> x * x)) > 0
        |),
        |qs8 AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm8 WHERE vec_id % 50 = 0),
        |ap8 AS (
        |  SELECT query_id, id FROM (
        |    SELECT q.query_id, c.vec_id AS id,
        |           ${CosineRankSql(8)} AS rank
        |    FROM nrm8 c CROSS JOIN qs8 q WHERE c.vec_id != q.query_id
        |  ) WHERE rank <= 5
        |),
        |h8 AS (
        |  SELECT CAST(8 AS BIGINT) AS dims, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ex e JOIN ap8 a USING (query_id, id)
        |),
        |nrm16 AS (
        |  SELECT vec_id, q,
        |         sqrt(CAST(list_sum(list_transform(q[1:16], x -> x * x)) AS DOUBLE)) AS n
        |  FROM nrm WHERE list_sum(list_transform(q[1:16], x -> x * x)) > 0
        |),
        |qs16 AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm16 WHERE vec_id % 50 = 0),
        |ap16 AS (
        |  SELECT query_id, id FROM (
        |    SELECT q.query_id, c.vec_id AS id,
        |           ${CosineRankSql(16)} AS rank
        |    FROM nrm16 c CROSS JOIN qs16 q WHERE c.vec_id != q.query_id
        |  ) WHERE rank <= 5
        |),
        |h16 AS (
        |  SELECT CAST(16 AS BIGINT) AS dims, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ex e JOIN ap16 a USING (query_id, id)
        |),
        |nrm32 AS (
        |  SELECT vec_id, q,
        |         sqrt(CAST(list_sum(list_transform(q[1:32], x -> x * x)) AS DOUBLE)) AS n
        |  FROM nrm WHERE list_sum(list_transform(q[1:32], x -> x * x)) > 0
        |),
        |qs32 AS (SELECT vec_id AS query_id, q AS qq, n AS qn FROM nrm32 WHERE vec_id % 50 = 0),
        |ap32 AS (
        |  SELECT query_id, id FROM (
        |    SELECT q.query_id, c.vec_id AS id,
        |           ${CosineRankSql(32)} AS rank
        |    FROM nrm32 c CROSS JOIN qs32 q WHERE c.vec_id != q.query_id
        |  ) WHERE rank <= 5
        |),
        |h32 AS (
        |  SELECT CAST(32 AS BIGINT) AS dims, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ex e JOIN ap32 a USING (query_id, id)
        |)
        |SELECT dims, tot.n_queries, tot.n_exact, n_hits,
        |       round(CAST(n_hits AS DOUBLE) / tot.n_exact, 4) AS recall
        |FROM h8 CROSS JOIN tot
        |UNION ALL
        |SELECT dims, tot.n_queries, tot.n_exact, n_hits,
        |       round(CAST(n_hits AS DOUBLE) / tot.n_exact, 4) AS recall
        |FROM h16 CROSS JOIN tot
        |UNION ALL
        |SELECT dims, tot.n_queries, tot.n_exact, n_hits,
        |       round(CAST(n_hits AS DOUBLE) / tot.n_exact, 4) AS recall
        |FROM h32 CROSS JOIN tot""".stripMargin,
    // Leakage replay: the q31 pair machinery + the q54 split
    // expression, unordered split-pair matrix, 4dp shares.
    "q281_neardup_leakage" ->
      s"""WITH $MinhashPairsSql,
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN b < 80 THEN 'train'
         |              WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          ${HexBucketSql("md5(CAST(doc_id AS VARCHAR) || ':split')")} AS b
         |        FROM documents)
         |),
         |j AS (
         |  SELECT least(a.split, b.split) AS split_a,
         |         greatest(a.split, b.split) AS split_b
         |  FROM lshpairs p
         |  JOIN sp a ON a.doc_id = p.idA
         |  JOIN sp b ON b.doc_id = p.idB
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM j)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |       split_a <> split_b AS leak,
         |       round(CAST(count(*) AS DOUBLE) / any_value(tot.n_total), 4) AS share
         |FROM j CROSS JOIN tot GROUP BY 1, 2""".stripMargin,
    // Cut replay: the q269 span chain, disjoint spans per doc, the
    // indexed token filter, md5 of the space-rejoined survivor text.
    "q283_exact_cut" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |$SpanHitsSql,
        |isl AS (
        |  SELECT doc_id, i,
        |         sum(CASE WHEN runmax IS NULL OR i > runmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m
        |),
        |sp AS (
        |  SELECT doc_id, CAST(min(i) AS BIGINT) AS s, CAST(max(i) + 8 AS BIGINT) AS e
        |  FROM isl GROUP BY doc_id, isl
        |),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS word,
        |         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
        |  FROM t
        |),
        |kept AS (
        |  SELECT tok.doc_id, tok.word, tok.pos
        |  FROM tok LEFT JOIN sp
        |    ON sp.doc_id = tok.doc_id AND tok.pos >= sp.s AND tok.pos < sp.e
        |  WHERE sp.doc_id IS NULL
        |),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         md5(string_agg(word, ' ' ORDER BY pos)) AS m5
        |  FROM kept GROUP BY 1
        |)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS tokens_cut,
        |       coalesce(agg.m5, md5('')) AS clean_md5
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    // Incremental replay: bucket caps over base+delta are identical
    // to the full corpus, so the gate is the q31 machinery filtered
    // to delta-involved pairs.
    "q285_incremental_pairs" ->
      s"""WITH $MinhashPairsSql
         |SELECT idA, idB, jaccard FROM lshpairs
         |WHERE idA % 10 = 0 OR idB % 10 = 0""".stripMargin,
    // Stoplisted replay: the q261 stop list, anti-joined at shingle
    // grain, then the q31 banding/cap/verify flow on the reduced sets.
    "q289_stoplisted_pairs" ->
      s"""WITH $ShinglesSql,
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |stop AS (
         |  SELECT shingle FROM (
         |    SELECT s AS shingle, CAST(count(*) AS BIGINT) AS df
         |    FROM (SELECT id, unnest(list_distinct(sh)) AS s FROM shingled)
         |    GROUP BY 1
         |  ) d CROSS JOIN n
         |  WHERE round(CAST(df AS DOUBLE) / n.n, 4) >= 0.01
         |  ORDER BY round(CAST(df AS DOUBLE) / n.n, 4) DESC, shingle LIMIT 50
         |),
         |kept AS (
         |  SELECT id, s
         |  FROM (SELECT id, unnest(list_distinct(sh)) AS s FROM shingled)
         |  WHERE s NOT IN (SELECT shingle FROM stop)
         |),
         |ksets AS (SELECT id, list(DISTINCT s) AS sh2 FROM kept GROUP BY 1),
         |sig AS (
         |  SELECT id, j, min(md5(CAST(j AS VARCHAR) || ':' || s)) AS m
         |  FROM kept
         |  CROSS JOIN (SELECT unnest(range(1, 13)) AS j) seeds
         |  GROUP BY id, j
         |),
         |banded AS (
         |  SELECT id, (j - 1) // 4 AS band, md5(string_agg(m, '|' ORDER BY j)) AS bucket
         |  FROM sig GROUP BY id, (j - 1) // 4
         |),
         |bsz AS (SELECT band, bucket, count(*) AS bn FROM banded GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.id AS idA, b.id AS idB
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
         |  JOIN bsz ON bsz.band = a.band AND bsz.bucket = a.bucket
         |   AND bsz.bn <= ${graft.GraftConf.LshBucketCap}
         |),
         |verified AS (
         |  SELECT c.idA, c.idB,
         |         round(CAST(len(list_intersect(sa.sh2, sb.sh2)) AS DOUBLE)
         |               / len(list_distinct(list_concat(sa.sh2, sb.sh2))), 3) AS jaccard
         |  FROM cand c
         |  JOIN ksets sa ON sa.id = c.idA
         |  JOIN ksets sb ON sb.id = c.idB
         |)
         |SELECT idA, idB, jaccard FROM verified WHERE jaccard >= 0.8""".stripMargin,
    // Canonical-URL replay: every rule of the native expression spelled
    // in DuckDB string functions — scheme/host lowercase, default-port
    // strip (http:80 / https:443), fragment cut, ALL trailing slashes
    // off the path, tracking params (utm_* prefix + exact gclid/fbclid/
    // msclkid/igshid/ref keys) and empty `&&` segments dropped with
    // order preserved. No-scheme inputs → NULL. The domain re-extracts
    // from the CANONICAL string with the identical regex as the engine.
    "q315_url_canonical" ->
      s"""WITH u AS (
         |  SELECT doc_id, $SynthUrlSql AS url FROM documents
         |),
         |p1 AS (
         |  SELECT doc_id, url,
         |         lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
         |         regexp_replace(regexp_replace(url, '^[^:/?#]+://', ''),
         |                        '#.*$$', '') AS nofrag
         |  FROM u
         |),
         |p2 AS (
         |  SELECT *, regexp_extract(nofrag, '^([^/?]*)', 1) AS hostport FROM p1
         |),
         |p3 AS (
         |  SELECT *,
         |         substring(nofrag, length(hostport) + 1) AS tail,
         |         regexp_extract(hostport, ':([0-9]+)$$', 1) AS port
         |  FROM p2
         |),
         |p4 AS (
         |  SELECT *,
         |         lower(CASE WHEN port <> ''
         |                    THEN substring(hostport, 1,
         |                           length(hostport) - length(port) - 1)
         |                    ELSE hostport END) AS host,
         |         regexp_extract(tail, '^([^?]*)', 1) AS path,
         |         CASE WHEN strpos(tail, '?') > 0
         |              THEN substring(tail, strpos(tail, '?') + 1)
         |              ELSE '' END AS qs
         |  FROM p3
         |),
         |p5 AS (
         |  SELECT *,
         |         regexp_replace(path, '/+$$', '') AS cpath,
         |         array_to_string(list_filter(string_split(qs, '&'), q ->
         |           q <> '' AND NOT regexp_matches(lower(q),
         |             '^(utm_|gclid(=|$$)|fbclid(=|$$)|msclkid(=|$$)|igshid(=|$$)|ref(=|$$))')),
         |           '&') AS cquery
         |  FROM p4
         |),
         |fin AS (
         |  SELECT doc_id,
         |         CASE WHEN scheme = '' THEN NULL ELSE
         |           scheme || '://' || host ||
         |           (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
         |                                       OR (scheme = 'https' AND port = '443'))
         |                 THEN ':' || port ELSE '' END) ||
         |           cpath ||
         |           (CASE WHEN cquery <> '' THEN '?' || cquery ELSE '' END)
         |         END AS url_canon
         |  FROM p5
         |)
         |SELECT doc_id, url_canon,
         |       regexp_extract(url_canon, '^[a-z]+://([^/:?]*)', 1) AS domain
         |FROM fin""".stripMargin,
    // Domain-cap replay: the q106 md5-rank spelling keyed on the
    // directly-constructed canonical domain — if the engine's
    // canonical_url → domain path produced anything else, the kept
    // sets diverge and the hash catches it.
    "q316_domain_cap" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |         (CASE WHEN doc_id % 2 = 0 THEN 'www.example' ELSE 'cdn.site' END)
         |           || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain
         |  FROM documents WHERE doc_id % 17 <> 0
         |),
         |r AS (
         |  SELECT domain, doc_id,
         |         row_number() OVER (PARTITION BY domain ORDER BY
         |           ${HexValSql("md5(CAST(doc_id AS VARCHAR) || ':domcap')", 1, 13)},
         |           doc_id) AS rk
         |  FROM c
         |)
         |SELECT domain, doc_id FROM r WHERE rk <= 40""".stripMargin,
  )
}
