package graft

import graft.operators._
import graft.sources.{Io, Tables}
import graft.streaming.{AssociationStream, EventStream, StreamQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Registry shard — text-corpus analysis: language-ID, quality, LM stats,
  * keyword/IR scores (SURVEY.md family G, text side).
  *
  * Every query here has its DuckDB oracle co-located below with
  * IDENTICAL column names (the driver contract; see SparkEntry).
  */
private[graft] object TextQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q87_pii_redact" -> ((s, dir) => {
      // PII detect + redact. The synthetic corpus carries no natural
      // PII, so the query deterministically salts an email / IPv4 /
      // phone span (gated on doc_id residues, values derived from
      // doc_id) into each text — same pattern as q38/q67's payload
      // synthesis — then the generic regex machinery must find and
      // strip exactly those spans: the oracle replays the salting and
      // the redaction, and the md5 of the redacted text mismatches on
      // any span-boundary bug.
      val t = Tables(s, dir)
      val salted = t.documents.select(col("doc_id"), col("source"),
        concat(
          substring(col("text"), 1, 40), lit(" "),
          when(col("doc_id") % 2 === 0,
            concat(lit("user"), (col("doc_id") % 100).cast("string"),
              lit("@mail"), (col("doc_id") % 7).cast("string"),
              lit(".example.com "))).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("10.0."), (col("doc_id") % 256).cast("string"),
              lit("."), expr("(doc_id div 256) % 256").cast("string"),
              lit(" "))).otherwise(lit("")),
          when(col("doc_id") % 5 =!= 0,
            concat(lit("415-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" "))).otherwise(lit("")),
          expr("substring(text, 41)")).as("text"))
      TextAnalysis.piiRedact(salted)
        .select(col("doc_id"), col("source"),
          col("n_email"), col("n_ip"), col("n_phone"),
          md5(col("redacted")).as("redacted_md5"))
    }),
    "q146_bm25" -> ((s, dir) => {
      // BM25 probe-query ranking: top-15 documents for a fixed 3-term
      // query — in-row tf/dl, one-row broadcast corpus stats, zero
      // wide shuffles, TakeOrdered final
      val t = Tables(s, dir)
      TextAnalysis.bm25(t.documents, Seq("spark", "stream", "vector"))
    }),
    "q148_chunk" -> ((s, dir) => {
      // overlapping training/RAG chunks (50-word windows, 10-word
      // overlap) — entirely in-row: split + sequence + slice, a
      // map-only pass with zero exchanges
      val t = Tables(s, dir)
      TextAnalysis.chunkDocuments(t.documents, chunkSize = 50, overlap = 10)
    }),
    "q154_rrf" -> ((s, dir) => {
      // reciprocal-rank fusion of a lexical ranking (tf of "spark")
      // and a length ranking — both bounded top-50 TakeOrdered lists
      // before the fuse, so the rank windows never see the corpus
      val t = Tables(s, dir)
      val byTf = t.documents.select(col("doc_id"),
          size(filter(TextAnalysis.words(col("text")), x => x === lit("spark")))
            .cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val byLen = t.documents.select(col("doc_id"),
          col("n_chars").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      TextAnalysis.rrfFuse(Seq(byTf, byLen))
    }),
    "q155_mixture_entropy" -> ((s, dir) => {
      // corpus-mixture diversity: source-distribution entropy and
      // effective source count per language — two stacked map-side
      // combined aggregates, floats only in the final ln/exp
      val t = Tables(s, dir)
      Rollups.mixtureEntropy(t.documents, Seq("lang"), "source")
    }),
    "q160_vocab_overlap" -> ((s, dir) => {
      // pairwise source vocabulary Jaccard — distinct (cat, token)
      // exchange, token-keyed self-join bounded by nSources² per
      // token, broadcast sizes, inclusion-exclusion in exact ints
      val t = Tables(s, dir)
      TextAnalysis.vocabularyOverlap(t.documents)
    }),
    "q162_js_divergence" -> ((s, dir) => {
      // pairwise source language divergence: JS over unigram
      // distributions — inner join on shared tokens + one-row totals,
      // single-only mass folded in closed form
      val t = Tables(s, dir)
      TextAnalysis.jsDivergence(t.documents)
    }),
    "q335_langid_trained" -> ((s, dir) => {
      // G7b TRAINED language-ID: char-trigram Naive Bayes self-trained
      // on the md5-hash 75% slice, scored on the rest — integer
      // micro-unit log-probs (exact integer doc scores), broadcast
      // per-trigram log-prob vectors, ONE doc-keyed vector_sum
      // combine; confusion matrix on the scored slice (the q166 eval
      // shape). The synthetic corpus carries no real language signal
      // (TextAnalysisSpec records trained-vs-heuristic accuracy and
      // pins learnability on a signal-injected fixture); the oracle
      // gates the full train→score→argmax mechanism bit-for-bit.
      val t = Tables(s, dir)
      TextAnalysis.langIdTrained(t.documents)
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")), 4))
    }),
    "q166_langid_confusion" -> ((s, dir) => {
      // classifier evaluation: labeled-vs-predicted language confusion
      // matrix with per-label shares — the eval loop for G7
      val t = Tables(s, dir)
      TextAnalysis.langId(t.documents)
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")), 4))
    }),
    "q145_pmi_collocations" -> ((s, dir) => {
      // multi-word expressions: top-20 adjacent pairs by PMI with
      // support ≥ 5 — pair/unigram tables map-side combined, support
      // filter before the probability joins, TakeOrdered final
      val t = Tables(s, dir)
      TextAnalysis.pmiCollocations(t.documents)
    }),
    "q142_lexical_cosine" -> ((s, dir) => {
      // embedding-free near-dup discovery: TF-vector cosine ≥ 0.8 via
      // a df-capped inverted index — integer dots from bounded posting
      // lists, exact full-vector norms, rounded-boundary threshold
      val t = Tables(s, dir)
      TextAnalysis.lexicalCosinePairs(t.documents)
    }),
    "q141_bigram_lm" -> ((s, dir) => {
      // conditional fluency scoring: self-trained Laplace bigram LM,
      // mean surprisal per document — in-row pair construction, one
      // corpus exchange shared by the model tables, pair-keyed joins
      val t = Tables(s, dir)
      TextAnalysis.bigramLm(t.documents)
    }),
    "q98_bpe_pairs" -> ((s, dir) => {
      // BPE training inner loop: adjacent char-pair counts weighted by
      // word frequency, computed over the distinct-word vocabulary
      val t = Tables(s, dir)
      TextAnalysis.bpePairCounts(t.documents, k = 20)
    }),
    "q36_langid" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextAnalysis.langId(t.documents)
        .select("doc_id", "lang", "score_de", "score_en", "score_es", "score_fr", "lang_pred")
    }),
    "q37_quality" -> ((s, dir) => {
      val t = Tables(s, dir)
      TextAnalysis.quality(TextAnalysis.tokens(t.documents))
        .withColumn("n_bpe", TextAnalysis.bpeTokenCount(col("text")))
        .withColumn("punct_ratio", TextAnalysis.punctRatio(col("text")))
        .select("doc_id", "n_tokens", "n_bpe", "n_distinct", "avg_token_len",
          "punct_ratio", "quality")
    }),
    "q46_rolling_fp" -> ((s, dir) => {
      // shift-robust rolling-hash fingerprint (vs q30's whole-content
      // md5): min Rabin-Karp hash over 16-byte windows
      val t = Tables(s, dir)
      t.documents.select(col("doc_id"),
        graft.functions.rollingMinHash(col("text"), 16).as("rfp"))
    }),
    "q52_gopher_rules" -> ((s, dir) => {
      // Gopher-style quality-filter flags, all integer-exact
      val t = Tables(s, dir)
      TextAnalysis.gopherRules(t.documents)
        .select("doc_id", "n_words", "alpha_words", "stop_hits",
          "ok_words", "ok_mean_len", "ok_alpha", "ok_stop", "ok_symbol",
          "gopher_pass")
    }),
    "q53_repetition" -> ((s, dir) => {
      // intra-doc repetition signals via the shuffle-free run-length fold
      val t = Tables(s, dir)
      TextAnalysis.repetition(t.documents)
        .select("doc_id", "n_grams", "top_count", "dup_count",
          "top_frac", "dup_frac")
    }),
    "q57_token_freq" -> ((s, dir) => {
      // corpus vocabulary: top-100 words by frequency — partial (map-
      // side) aggregation on the word key, then a TakeOrdered top-k,
      // never a global sort
      val t = Tables(s, dir)
      TextAnalysis.termCounts(t.documents, Nil, "text", "word", "n")
        .orderBy(col("n").desc, col("word")).limit(100)
    }),
    "q59_unigram_lm" -> ((s, dir) => {
      // CCNet-style perplexity filter reduced to unigrams: train the
      // corpus unigram LM and score every document's mean surprisal
      // in one job (two keyed aggregations, word-keyed vocab join)
      val t = Tables(s, dir)
      TextAnalysis.unigramLm(t.documents)
    }),
    "q328_heaps_law" -> ((s, dir) => {
      // G104 Heaps-law vocabulary growth per source: V(T) ≈ K·T^β
      // over 10 doc-id-value checkpoints (rank-free, no doc-grain
      // sort) — the corpus-scaling read (β≈0.5 natural language, ≈1
      // id leak, ≈0 saturated); D9's exact-decimal trend on micro-nat
      // logs
      val t = Tables(s, dir)
      TextAnalysis.heapsLaw(t.documents)
    }),
    "q324_vocab_richness" -> ((s, dir) => {
      // G101 vocabulary richness per source: Chao1 species-richness
      // lower bound + Good–Turing coverage off the frequency
      // spectrum — the corpus-expansion pre-flight (is this slice
      // saturated?); exact-long spectrum counts, floats only in the
      // two final ratios
      val t = Tables(s, dir)
      TextAnalysis.vocabRichness(t.documents)
    }),
    "q320_ppl_buckets" -> ((s, dir) => {
      // G99 CCNet head/middle/tail: per-LANGUAGE unigram LM + tercile
      // split of per-doc surprisal — cuts found on a bounded
      // (lang, 10⁻⁴-nat) value-grain histogram (grain-guarded), never
      // a doc-grain per-lang sort; docs at a cut share its bucket
      val t = Tables(s, dir)
      TextAnalysis.perplexityBuckets(t.documents)
    }),
    "q72_tfidf" -> ((s, dir) => {
      // per-doc top-3 TF-IDF keywords — word-keyed df join, one-row
      // broadcast doc count, per-doc window for the top-k
      val t = Tables(s, dir)
      TextAnalysis.tfidfTopK(t.documents)
    }),
    "q176_zipf" -> ((s, dir) => {
      // G60 Zipf power-law fit of each source's vocabulary head:
      // micro-nat integer logs into linearTrend's exact-sum machinery
      val t = Tables(s, dir)
      TextAnalysis.zipfFit(t.documents, maxRank = 200, minFreq = 2)
    }),
    "q183_calibration" -> ((s, dir) => {
      // G62 filter-calibration curve: quality-score deciles × Gopher
      // pass rate — the threshold-tuning reliability diagram for the
      // quality filter; one map-side-combined aggregate over the
      // per-doc scores, exact-integer mean quality per bin
      val t = Tables(s, dir)
      val scored = TextAnalysis.gopherRules(TextAnalysis.quality(t.documents))
      scored
        .withColumn("bin", least(floor(col("quality") * 10).cast("int"), lit(9)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(round(col("quality") * 10000).cast("long")).as("_sq"),
          sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_pass"))
        .withColumn("mean_quality",
          round(col("_sq").cast("double") / col("n").cast("double") / 10000.0, 4))
        .withColumn("pass_rate",
          round(col("n_pass").cast("double") / col("n").cast("double"), 4))
        .drop("_sq")
    }),
    "q188_vocab_build" -> ((s, dir) => {
      // G63 tokenizer vocab: top-500 tokens get dense ids in (freq
      // desc, token) order + cumulative corpus coverage — TakeOrdered
      // heap, windows only over the kept slice
      val t = Tables(s, dir)
      TextAnalysis.vocabBuild(t.documents)
    }),
    "q260_dataset_card" -> ((s, dir) => {
      // G82 the release datasheet: size, languages, token mass,
      // quality, Gopher pass rate, near-dup share — one row
      val t = Tables(s, dir)
      TextAnalysis.datasetCard(t.documents)
    }),
    "q258_readability" -> ((s, dir) => {
      // G80 Flesch-style readability per doc (vowel-group syllable
      // proxy) — the prose-complexity curation feature
      val t = Tables(s, dir)
      TextAnalysis.readability(t.documents)
        .select(col("doc_id"), col("n_sentences"), col("n_words"),
          col("n_syllables"), col("flesch"))
    }),
    "q252_rake" -> ((s, dir) => {
      // G78 RAKE keyword extraction: top stopword-delimited phrases
      // by degree/frequency word scores
      val t = Tables(s, dir)
      TextAnalysis.rakeKeywords(t.documents)
    }),
    "q270_bpe_encode" -> ((s, dir) => {
      // G86 BPE train + apply: 8 greedy merges learned on word
      // frequencies, then EXACT per-doc token counts from the
      // sequential-replay encoder (completes G32/G9 into a tokenizer)
      val t = Tables(s, dir)
      val merges = Bpe.train(t.documents, nMerges = 8)
      Bpe.encode(t.documents, merges).select(col("doc_id"), col("n_bpe_tokens"))
    }),
    "q274_blocklist" -> ((s, dir) => {
      // G87 blocklist term filter: per-doc hit counts against a policy
      // term table via broadcast probe on the exploded word stream
      val t = Tables(s, dir)
      import s.implicits._
      val terms = Seq("slow", "error", "merge").toDF("term")
      TextAnalysis.blocklistHits(t.documents, terms)
        .select(col("doc_id"), col("n_hits"), col("n_terms"), col("flagged"))
    }),
    "q299_nfc_normalize" -> ((s, dir) => {
      // G94 Unicode NFC canonicalization (native expression): each doc
      // decorated with a DECOMPOSED suffix (e+U+0301, i+U+0308 — the
      // corpus itself is ASCII), normalized, and gated per row on
      // codepoint length + md5 — both engines implement the same
      // Unicode canonical composition
      val t = Tables(s, dir)
      val dec = concat(col("text"), lit(" nai\u0308ve cafe\u0301"))
      t.documents.select(col("doc_id"),
        length(dec).cast("long").as("len_raw"),
        length(graft.functions.nfcNormalize(dec)).cast("long").as("len_nfc"),
        md5(graft.functions.nfcNormalize(dec)).as("h_nfc"))
    }),
    "q294_ngram_diversity" -> ((s, dir) => {
      // G93 distinct-1/2/3 per source slice: the cross-doc diversity /
      // template-spam report — md5-reduced shingles for every n from
      // ONE corpus scan, exact distinct via the two-level aggregate
      val t = Tables(s, dir)
      TextAnalysis.ngramDiversity(t.documents)
    }),
    "q317_stupid_backoff" -> ((s, dir) => {
      // G47b stupid-backoff trigram LM: counts train on the English
      // slice, every doc scored against them — non-en docs walk the
      // full backoff chain (trigram → bigram → floored unigram)
      val t = Tables(s, dir)
      TextAnalysis.stupidBackoff(t.documents, col("lang") === "en")
    }),
    "q314_ngram_diversity_hll" -> ((s, dir) => {
      // G93b sketched distinct-n: q294's report with the gram stream
      // never crossing an exchange — the one shuffle carries 4 KB HLL
      // register files per (slice, n), the scale path for the
      // engine's largest per-byte exchange. Oracle replays the
      // registers (I6's md5 contract) and lands on identical doubles.
      val t = Tables(s, dir)
      TextAnalysis.ngramDiversityApprox(t.documents)
    }),
    "q390_mojibake" -> ((s, dir) => {
      // G115 encoding-anomaly screen. The synthetic corpus is pure
      // ASCII, so the query deterministically salts the three classic
      // corruption signatures (CP1252-mangled UTF-8, U+FFFD, C1
      // controls) on doc_id residues — the q87 salting pattern — and
      // the generic RE2-portable detectors must count exactly those.
      val t = Tables(s, dir)
      val salted = t.documents.select(col("doc_id"), col("source"),
        concat(
          substring(col("text"), 1, 30),
          when(col("doc_id") % 7 === 0,
            lit(" cafÃ© naÃ¯ve")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" ��broken")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" itâ€™s ok")).otherwise(lit("")),
          lit(" "), substring(col("text"), 31, 100000)).as("text"))
      TextAnalysis.encodingAnomalies(salted).orderBy("source")
    }),
    "q401_kn_bigram" -> ((s, dir) => {
      // G120 interpolated Kneser-Ney bigram scoring: absolute
      // discounting + the continuation back-off (the "Francisco"
      // fix) — the top rung of the LM ladder over q59/q141/q317
      val t = Tables(s, dir)
      TextAnalysis.knBigramLm(t.documents)
    }),
    "q392_fertility" -> ((s, dir) => {
      // G116 tokenizer fertility by language: q270's trained BPE
      // applied corpus-wide, tokens-per-word and chars-per-token per
      // lang slice — the multilingual-tokenizer tax audit
      val t = Tables(s, dir)
      val merges = Bpe.train(t.documents, nMerges = 8)
      val enc = Bpe.encode(t.documents, merges)
      TextAnalysis.tokenizerFertility(enc, t.documents).orderBy("lang")
    }),
  )

  /** q401's pinned KN probability: max(c(p,c) − D, 0)/c(p·) + λ(p)·P_cont(c), D = 0.75. */
  private val KnProbSql =
    "greatest(CAST(pc.pc AS DOUBLE) - 0.75, 0.0) / ctx.ctx" +
      " + (0.75 * ctx.n1fwd / ctx.ctx) * (CAST(n1rev.n1rev AS DOUBLE) / ty.tt)"

  val oracles: Seq[(String, String)] = Seq(
    "q36_langid" ->
      s"""WITH $LangPredSql
         |SELECT doc_id, lang, score_de, score_en, score_es, score_fr, lang_pred
         |FROM langpred""".stripMargin,
    "q37_quality" ->
      s"""WITH ${DocsBaseSql("text")}
        |SELECT doc_id, n_tokens,
        |       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS INT) AS n_bpe,
        |       CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |                       / length(text), 4) END AS punct_ratio,
        |       CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |       round(CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens, 4) AS avg_token_len,
        |       CAST($QualityUnitsSql AS DOUBLE) / 10000.0 AS quality
        |FROM base""".stripMargin,
    // Rolling-fingerprint replay: direct per-window polynomial sums
    // with the Scala-precomputed 257^k mod 1e9+7 powers table — same
    // residues as the engine's O(n) rolling recurrence.
    "q46_rolling_fp" ->
      s"""WITH b AS (
         |  SELECT doc_id, text, CAST(length(text) AS INT) AS n FROM documents
         |),
         |wins AS (
         |  SELECT doc_id, text, unnest(range(0, n - 15)) AS j FROM b WHERE n >= 16
         |),
         |hashes AS (
         |  SELECT doc_id,
         |         CAST(list_sum(list_transform(range(0, 16),
         |           k -> CAST(ascii(substring(text, CAST(j + k + 1 AS INT), 1)) AS BIGINT)
         |                * ($RollingPowsSql)[CAST(k + 1 AS INT)] % 1000000007))
         |              % 1000000007 AS BIGINT) AS h
         |  FROM wins
         |),
         |m AS (SELECT doc_id, min(h) AS rfp FROM hashes GROUP BY 1)
         |SELECT b.doc_id, m.rfp FROM b LEFT JOIN m USING (doc_id)""".stripMargin,
    // Gopher rules: every flag re-derived in the same INTEGER
    // arithmetic, so booleans are exact in both engines.
    "q52_gopher_rules" ->
      s"""WITH $GopherDocSql
         |SELECT doc_id, n AS n_words, aw AS alpha_words, sh AS stop_hits,
         |       (n BETWEEN 30 AND 100000) AS ok_words,
         |       (n > 0 AND (l - (n - 1)) >= 3 * n AND (l - (n - 1)) <= 10 * n) AS ok_mean_len,
         |       (aw * 10 >= n * 8) AS ok_alpha,
         |       (sh >= 2) AS ok_stop,
         |       (sym * 10 <= l) AS ok_symbol,
         |       (${gopherPassPred(2)}) AS gopher_pass
         |FROM d""".stripMargin,
    // Repetition replay via the naive explode→group-by formulation —
    // the engine's shuffle-free run-length fold must agree exactly.
    "q53_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2
        |),
        |c AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total, max(cnt) AS mx,
        |         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup
        |  FROM c GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       coalesce(a.total, 0) AS n_grams,
        |       coalesce(a.mx, 0) AS top_count,
        |       coalesce(a.dup, 0) AS dup_count,
        |       CASE WHEN coalesce(a.total, 0) = 0 THEN 0.0
        |            ELSE CAST((a.mx * 20000 + a.total) // (a.total * 2) AS DOUBLE) / 10000 END AS top_frac,
        |       CASE WHEN coalesce(a.total, 0) = 0 THEN 0.0
        |            ELSE CAST((a.dup * 20000 + a.total) // (a.total * 2) AS DOUBLE) / 10000 END AS dup_frac
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,
    "q57_token_freq" ->
      s"""WITH ${TermCountsSql("f", "word", "n")}
         |SELECT word, n FROM f ORDER BY n DESC, word LIMIT 100""".stripMargin,
    "q146_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |),
        |t AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |         CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf0,
        |         CAST(len(list_filter(w, x -> x = 'stream')) AS BIGINT) AS tf1,
        |         CAST(len(list_filter(w, x -> x = 'vector')) AS BIGINT) AS tf2
        |  FROM d
        |),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nd,
        |         CAST(sum(dl) AS BIGINT) AS tdl,
        |         CAST(count(CASE WHEN tf0 > 0 THEN 1 END) AS BIGINT) AS df0,
        |         CAST(count(CASE WHEN tf1 > 0 THEN 1 END) AS BIGINT) AS df1,
        |         CAST(count(CASE WHEN tf2 > 0 THEN 1 END) AS BIGINT) AS df2
        |  FROM t
        |),
        |sc AS (
        |  SELECT doc_id,
        |    round(
        |      (CASE WHEN tf0 > 0 THEN
        |         ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
        |              / (CAST(df0 AS DOUBLE) + 0.5))
        |         * CAST(tf0 AS DOUBLE) * 2.2
        |         / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75
        |             + 0.75 * CAST(dl AS DOUBLE)
        |               / (CAST(tdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |       ELSE 0.0 END)
        |      + (CASE WHEN tf1 > 0 THEN
        |         ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
        |              / (CAST(df1 AS DOUBLE) + 0.5))
        |         * CAST(tf1 AS DOUBLE) * 2.2
        |         / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75
        |             + 0.75 * CAST(dl AS DOUBLE)
        |               / (CAST(tdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |       ELSE 0.0 END)
        |      + (CASE WHEN tf2 > 0 THEN
        |         ln(1.0 + (CAST(nd AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
        |              / (CAST(df2 AS DOUBLE) + 0.5))
        |         * CAST(tf2 AS DOUBLE) * 2.2
        |         / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75
        |             + 0.75 * CAST(dl AS DOUBLE)
        |               / (CAST(tdl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |       ELSE 0.0 END), 4) AS bm25
        |  FROM t CROSS JOIN s
        |)
        |SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    "q162_js_divergence" ->
      s"""WITH ${TermCountsSql("c", "tok", "c", Seq("source AS cat"))},
        |tt AS (SELECT cat, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY 1),
        |p AS (SELECT c.cat, c.tok, CAST(c.c AS DOUBLE) / tt.t AS p
        |      FROM c JOIN tt USING (cat)),
        |j AS (
        |  SELECT a.cat AS cat_a, b.cat AS cat_b, CAST(count(*) AS BIGINT) AS n_common,
        |         sum(a.p * ln(2 * a.p / (a.p + b.p))) AS s1,
        |         sum(b.p * ln(2 * b.p / (a.p + b.p))) AS s2,
        |         sum(a.p) AS pm, sum(b.p) AS qm
        |  FROM p a JOIN p b ON a.tok = b.tok AND a.cat < b.cat
        |  GROUP BY 1, 2
        |)
        |SELECT cat_a, cat_b, n_common,
        |       round((s1 + ln(2) * (1 - pm)) / 2
        |           + (s2 + ln(2) * (1 - qm)) / 2, 4) AS js
        |FROM j""".stripMargin,
    // Trained-langid replay: same md5 split, same Laplace micro-unit
    // model, same integer doc scores, same (s DESC, lang) argmax —
    // written as the per-language expansion the vector formulation
    // collapses.
    "q335_langid_trained" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, lang,
         |         ${HexValSql("md5(CAST(doc_id AS VARCHAR) || ':lid')", 1, 1)} AS nib
         |  FROM documents WHERE length(text) >= 3
         |),
         |train AS (SELECT * FROM base WHERE nib >= 4),
         |test AS (SELECT * FROM base WHERE nib < 4),
         |ttris AS (
         |  SELECT lang, unnest(list_transform(range(1, length(text) - 1),
         |           i -> substring(text, CAST(i AS INT), 3))) AS tri
         |  FROM train),
         |c AS (SELECT lang, tri, CAST(count(*) AS BIGINT) AS c
         |      FROM ttris GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT tri) AS BIGINT) AS v FROM ttris),
         |prior AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd
         |          FROM train GROUP BY 1),
         |nall AS (SELECT CAST(count(*) AS BIGINT) AS nd_all FROM train),
         |model AS (
         |  SELECT lang, tri,
         |         CAST(round(ln(CAST(c + 1 AS DOUBLE)
         |           / CAST(tot + v AS DOUBLE)) * 1e6) AS BIGINT) AS l
         |  FROM c JOIN tot USING (lang) CROSS JOIN v),
         |dim AS (
         |  SELECT lang,
         |         CAST(round(ln(1.0 / CAST(tot + v AS DOUBLE)) * 1e6)
         |           AS BIGINT) AS l0,
         |         CAST(round(ln(CAST(nd AS DOUBLE)
         |           / CAST(nd_all AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |  FROM tot JOIN prior USING (lang) CROSS JOIN v CROSS JOIN nall),
         |dtf AS (
         |  SELECT doc_id, lang_true, tri, CAST(count(*) AS BIGINT) AS tf
         |  FROM (
         |    SELECT doc_id, lang AS lang_true,
         |           unnest(list_transform(range(1, length(text) - 1),
         |             i -> substring(text, CAST(i AS INT), 3))) AS tri
         |    FROM test)
         |  GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT d.doc_id, d.lang_true, dl.lang,
         |         dl.lp + sum(d.tf * coalesce(m.l, dl.l0)) AS s
         |  FROM dtf d CROSS JOIN dim dl
         |  LEFT JOIN model m ON m.tri = d.tri AND m.lang = dl.lang
         |  GROUP BY 1, 2, 3, dl.lp),
         |pred AS (
         |  SELECT doc_id, lang_true, lang AS lang_pred,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY s DESC, lang) AS rn
         |  FROM scored),
         |m2 AS (
         |  SELECT lang_true AS lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM pred WHERE rn = 1 GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 4)
         |         AS share
         |FROM m2""".stripMargin,
    "q166_langid_confusion" ->
      s"""WITH $LangPredSql,
         |m AS (
         |  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM langpred GROUP BY 1, 2
         |)
         |SELECT lang, lang_pred, n,
         |       round(CAST(n AS DOUBLE)
         |         / sum(n) OVER (PARTITION BY lang), 4) AS share
         |FROM m""".stripMargin,
    "q160_vocab_overlap" ->
      s"""WITH v AS (
        |  SELECT DISTINCT cat, tok FROM (${WordRowsSql("tok", Seq("source AS cat"))})
        |),
        |sz AS (SELECT cat, CAST(count(*) AS BIGINT) AS sz FROM v GROUP BY 1),
        |i AS (
        |  SELECT a.cat AS cat_a, b.cat AS cat_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM v a JOIN v b USING (tok) WHERE a.cat < b.cat
        |  GROUP BY 1, 2
        |)
        |SELECT cat_a, cat_b, n_common,
        |       round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) AS jaccard
        |FROM i JOIN sz sa ON sa.cat = i.cat_a JOIN sz sb ON sb.cat = i.cat_b""".stripMargin,
    "q154_rrf" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
        |           AS DOUBLE) AS s
        |  FROM documents
        |),
        |ar AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
        |  FROM a QUALIFY r <= 50
        |),
        |b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents),
        |br AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
        |  FROM b QUALIFY r <= 50
        |),
        |u AS (SELECT * FROM ar UNION ALL SELECT * FROM br)
        |SELECT doc_id, round(sum(1.0 / (r + 60)), 6) AS rrf,
        |       CAST(count(*) AS BIGINT) AS n_lists
        |FROM u GROUP BY 1
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "q155_mixture_entropy" ->
      """WITH c AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_cats,
        |         CAST(sum(c) AS BIGINT) AS n_rows,
        |         sum(CAST(c AS DOUBLE) * ln(c)) AS cl
        |  FROM c GROUP BY 1
        |)
        |SELECT lang, n_cats, n_rows,
        |       round(ln(n_rows) - cl / n_rows, 4) AS entropy,
        |       round(exp(ln(n_rows) - cl / n_rows), 4) AS eff_cats
        |FROM m""".stripMargin,
    "q148_chunk" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents
        |),
        |s AS (
        |  SELECT doc_id, w, n, unnest(range(0, n, 40)) AS start FROM w
        |)
        |SELECT doc_id,
        |       CAST(start // 40 AS INT) AS chunk_idx,
        |       array_to_string(list_slice(w, start + 1, least(start + 50, n)), ' ')
        |         AS chunk_text,
        |       CAST(least(50, n - start) AS INT) AS n_tokens
        |FROM s""".stripMargin,
    "q145_pmi_collocations" ->
      s"""WITH ${WordListsSql(Nil)},
        |pr AS (
        |  SELECT p, c, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM (${NgramsSql("wd", Seq("p", "c"))}) GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |${TermCountsSql("uni", "word", "n_w")},
        |tot AS (
        |  SELECT CAST(sum(len(w)) AS BIGINT) AS tw,
        |         CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS tp
        |  FROM wd
        |)
        |SELECT pr.p, pr.c, pr.n_ab,
        |       round(ln(CAST(pr.n_ab AS DOUBLE) * tot.tw * tot.tw
        |         / (CAST(tot.tp AS DOUBLE) * ua.n_w * ub.n_w)), 4) AS pmi
        |FROM pr
        |JOIN uni ua ON ua.word = pr.p
        |JOIN uni ub ON ub.word = pr.c
        |CROSS JOIN tot
        |ORDER BY pmi DESC, pr.p, pr.c
        |LIMIT 20""".stripMargin,
    "q142_lexical_cosine" ->
      s"""WITH $ShinglesSql,
         |wd AS (SELECT id, unnest(sh) AS word FROM shingled),
         |tf AS (SELECT id, word, CAST(count(*) AS BIGINT) AS tf FROM wd GROUP BY 1, 2),
         |nrm AS (SELECT id, sum(tf*tf) AS n2 FROM tf GROUP BY 1),
         |dfc AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |inv AS (
         |  SELECT tf.id, tf.word, tf.tf FROM tf JOIN dfc USING (word)
         |  WHERE df > 1 AND df <= 100
         |),
         |p AS (
         |  SELECT a.id AS idA, b.id AS idB, sum(a.tf * b.tf) AS dot
         |  FROM inv a JOIN inv b ON a.word = b.word AND a.id < b.id
         |  GROUP BY 1, 2
         |),
        |c AS (
        |  SELECT idA, idB, CAST(dot AS BIGINT) AS dot,
        |         round(CAST(dot AS DOUBLE) /
        |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos
        |  FROM p JOIN nrm na ON na.id = p.idA JOIN nrm nb ON nb.id = p.idB
        |)
        |SELECT idA, idB, dot, cos FROM c WHERE cos >= 0.8""".stripMargin,
    "q141_bigram_lm" ->
      s"""WITH ${WordListsSql(Seq("doc_id"))},
        |tf AS (
        |  SELECT doc_id, p, c, count(*) AS tf
        |  FROM (${NgramsSql("wd", Seq("p", "c"), Seq("doc_id"))}) GROUP BY 1, 2, 3
        |),
        |pc AS (SELECT p, c, sum(tf) AS pc FROM tf GROUP BY 1, 2),
        |ctx AS (SELECT p, sum(pc) AS ctx FROM pc GROUP BY 1),
        |v AS (SELECT count(DISTINCT word) AS v FROM (${WordRowsSql("word")}))
        |SELECT t.doc_id,
        |       ${MeanSurprisalSql("n_pairs", "CAST(pc.pc + 1 AS DOUBLE) / CAST(ctx.ctx + v.v AS DOUBLE)", "t.tf")}
        |FROM tf t
        |JOIN pc USING (p, c) JOIN ctx USING (p) CROSS JOIN v
        |GROUP BY 1""".stripMargin,
    // BPE-pair replay: same vocabulary-weighted adjacent-pair counts
    // (substring(word, i, 2) for i in 1..len-1), top-20 by (n, pair).
    "q98_bpe_pairs" ->
      s"""WITH ${TermCountsSql("wf", "word", "wf")},
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(word)),
        |           i -> substring(word, CAST(i AS INT), 2))) AS pair, wf
        |  FROM wf WHERE length(word) >= 2
        |)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS n
        |FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "q59_unigram_lm" ->
      s"""WITH ${UnigramLmSql(Nil)}
         |SELECT doc_id, n_words, nll FROM lm""".stripMargin,
    // Heaps replay: same value thresholds (positive integer //), word
    // first-occurrence joins, the exact-HUGEINT fit (LinearTrendSql).
    "q328_heaps_law" ->
      s"""WITH b AS (
        |  SELECT source, min(doc_id) AS lo, max(doc_id) AS hi
        |  FROM documents GROUP BY 1
        |),
        |kd AS (
        |  SELECT source, k, lo - 1 + ((hi - lo + 1) * k) // 10 AS th
        |  FROM b, unnest(range(1, 11)) u(k)
        |),
        |fw AS (
        |  SELECT source, word, min(doc_id) AS fd
        |  FROM (${WordRowsSql("word", Seq("source", "doc_id"))})
        |  GROUP BY 1, 2
        |),
        |v AS (
        |  SELECT f.source, kd.k, CAST(count(*) AS BIGINT) AS v
        |  FROM fw f JOIN kd ON kd.source = f.source AND f.fd <= kd.th
        |  GROUP BY 1, 2
        |),
        |tt AS (
        |  SELECT d.source, kd.k,
        |         CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS t
        |  FROM documents d JOIN kd ON kd.source = d.source AND d.doc_id <= kd.th
        |  GROUP BY 1, 2
        |),
        |p AS (
        |  SELECT v.source,
        |         CAST(round(ln(tt.t) * 1e6) AS BIGINT) AS x,
        |         CAST(round(ln(v.v) * 1e6) AS BIGINT) AS y
        |  FROM v JOIN tt ON v.source = tt.source AND v.k = tt.k
        |  WHERE v.v > 0 AND tt.t > 0
        |),
        |${LinearTrendSql("p", Seq("source"))}
        |SELECT source, n_points, slope AS heaps_beta, intercept, r2
        |FROM trend""".stripMargin,
    // Frequency-spectrum replay: same split, exact counts, identical
    // written form for the two ratios.
    "q324_vocab_richness" ->
      s"""WITH ${TermCountsSql("tf", "word", "cf", Seq("source"))}
        |SELECT source,
        |       CAST(sum(cf) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab,
        |       CAST(count(*) FILTER (cf = 1) AS BIGINT) AS f1,
        |       CAST(count(*) FILTER (cf = 2) AS BIGINT) AS f2,
        |       round(CAST(count(*) AS DOUBLE) +
        |             CAST(count(*) FILTER (cf = 1)
        |                  * (count(*) FILTER (cf = 1) - 1) AS DOUBLE) /
        |             CAST(2 * (count(*) FILTER (cf = 2) + 1) AS DOUBLE), 4)
        |         AS chao1,
        |       round(1.0 - CAST(count(*) FILTER (cf = 1) AS DOUBLE)
        |             / CAST(sum(cf) AS DOUBLE), 4) AS coverage
        |FROM tf GROUP BY 1""".stripMargin,
    // q59's LM chain per language, surprisal fixed to integer
    // 10⁻⁴-nat units, tercile cuts off the value-grain cumulative
    // histogram; docs at a cut share its bucket.
    "q320_ppl_buckets" ->
      s"""WITH ${UnigramLmSql(Seq("lang"), m => s"CAST(round($m * 10000) AS BIGINT) AS nll_q")},
        |hist AS (SELECT lang, nll_q, count(*) AS c FROM lm GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, nll_q,
        |         CAST(sum(c) OVER (PARTITION BY lang ORDER BY nll_q
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM hist
        |),
        |th AS (
        |  SELECT lang, min(CASE WHEN cum * 3 >= n THEN nll_q END) AS t1,
        |         min(CASE WHEN cum * 3 >= 2 * n THEN nll_q END) AS t2
        |  FROM cum GROUP BY 1
        |)
        |SELECT doc_id, lang, n_words,
        |       round(CAST(nll_q AS DOUBLE) / 10000.0, 4) AS nll,
        |       CASE WHEN nll_q <= t1 THEN 'head'
        |            WHEN nll_q <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lm JOIN th USING (lang)""".stripMargin,
    "q72_tfidf" ->
      s"""WITH ${TermCountsSql("tf", "word", "tf", Seq("doc_id"))},
        |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, word,
        |         tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN nd
        |),
        |rk AS (
        |  SELECT doc_id, word,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INT) AS rank,
        |         tfidf
        |  FROM scored
        |)
        |SELECT doc_id, word, rank, round(tfidf, 4) AS tfidf FROM rk WHERE rank <= 3""".stripMargin,
    // PII replay: identical salting, then the same three RE2 patterns
    // applied in the same order (counts taken on the progressively-
    // redacted text); DuckDB regexp_replace needs the explicit 'g'
    // flag to match Spark's replace-all semantics.
    "q87_pii_redact" ->
      """WITH salted AS (
        |  SELECT doc_id, source,
        |    substring(text, 1, 40) || ' ' ||
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      'user' || (doc_id % 100) || '@mail' || (doc_id % 7) || '.example.com '
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      '10.0.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) || ' '
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 <> 0 THEN
        |      '415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
        |      ELSE '' END ||
        |    substring(text, 41) AS text
        |  FROM documents
        |),
        |r1 AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |         regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
        |  FROM salted
        |),
        |r2 AS (
        |  SELECT doc_id, source, n_email,
        |         CAST(len(regexp_extract_all(t,
        |           '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ip,
        |         regexp_replace(t,
        |           '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t
        |  FROM r1
        |),
        |r3 AS (
        |  SELECT doc_id, source, n_email, n_ip,
        |         CAST(len(regexp_extract_all(t,
        |           '\b[0-9]{3}-([0-9]{3}-)?[0-9]{4}\b')) AS INT) AS n_phone,
        |         regexp_replace(t,
        |           '\b[0-9]{3}-([0-9]{3}-)?[0-9]{4}\b', '<PHONE>', 'g') AS t
        |  FROM r2
        |)
        |SELECT doc_id, source, n_email, n_ip, n_phone, md5(t) AS redacted_md5
        |FROM r3""".stripMargin,
    // Zipf replay: same (freq DESC, word) total rank order, the same
    // round(ln·10⁶) integerization, then the exact-sum fit (LinearTrendSql).
    "q176_zipf" ->
      s"""WITH ${TermCountsSql("vocab", "word", "n", Seq("source"))},
        |ranked AS (
        |  SELECT source, n,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n DESC, word) AS rank
        |  FROM vocab
        |),
        |pts AS (
        |  SELECT source,
        |         CAST(round(ln(rank) * 1000000) AS BIGINT) AS x,
        |         CAST(round(ln(n) * 1000000) AS BIGINT) AS y
        |  FROM ranked WHERE rank <= 200 AND n >= 2
        |),
        |${LinearTrendSql("pts", Seq("source"))}
        |SELECT source, n_points, slope AS zipf_slope, r2 FROM trend""".stripMargin,
    // Calibration replay: q37's exact-rational quality, q52's gopher
    // predicate, decile binning, exact-integer mean per bin.
    "q183_calibration" ->
      s"""WITH $GopherDocSql,
         |${DocsBaseSql("text")},
         |$QualitySql,
         |g AS (SELECT doc_id, (${gopherPassPred(2)}) AS gopher_pass FROM d),
         |s AS (
         |  SELECT CAST(least(CAST(floor(quality * 10) AS INT), 9) AS INT) AS bin,
         |         quality, gopher_pass
         |  FROM q JOIN g USING (doc_id)
         |)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(CASE WHEN gopher_pass THEN 1 END) AS BIGINT) AS n_pass,
         |       round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE) / 10000.0, 4) AS mean_quality,
         |       round(CAST(count(CASE WHEN gopher_pass THEN 1 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 4) AS pass_rate
         |FROM s GROUP BY 1""".stripMargin,
    // Vocab-build replay: q57's tokenization; ids from the same
    // (n desc, token) total order; coverage vs the FULL corpus total.
    "q188_vocab_build" ->
      s"""WITH ${TermCountsSql("f", "token", "n")},
        |tot AS (SELECT sum(n) AS total FROM f),
        |top AS (SELECT token, n FROM f ORDER BY n DESC, token LIMIT 500)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id,
        |       token, n,
        |       round(CAST(sum(n) OVER (ORDER BY n DESC, token
        |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |             / (SELECT total FROM tot), 6) AS coverage
        |FROM top""".stripMargin,
    // RAKE replay: same boundary-regex phrase split, same micro-unit
    // word scores, same (score desc, phrase) top-k.
    "q252_rake" ->
      """WITH ph AS (
        |  SELECT trim(p) AS phrase FROM (
        |    SELECT unnest(string_split(
        |             regexp_replace(lower(text),
        |               '\b(the|be|to|of|and|that|have|with)\b', chr(1), 'g'),
        |             chr(1))) AS p
        |    FROM documents
        |  ) WHERE trim(p) <> '' AND len(string_split(trim(p), ' ')) <= 4
        |),
        |w AS (
        |  SELECT phrase, len(string_split(phrase, ' ')) AS plen,
        |         unnest(string_split(phrase, ' ')) AS word
        |  FROM ph
        |),
        |st AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(plen) AS BIGINT) AS deg
        |  FROM w GROUP BY 1
        |),
        |wu AS (
        |  SELECT word,
        |         CAST(round(CAST(deg AS DOUBLE) / freq * 1e6) AS BIGINT) AS wu
        |  FROM st
        |),
        |dp AS (
        |  SELECT phrase, unnest(string_split(phrase, ' ')) AS word
        |  FROM (SELECT DISTINCT phrase FROM ph)
        |),
        |sc AS (
        |  SELECT dp.phrase, CAST(sum(wu.wu) AS BIGINT) AS su,
        |         CAST(count(*) AS BIGINT) AS n_words
        |  FROM dp JOIN wu USING (word) GROUP BY 1
        |),
        |occ AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences FROM ph GROUP BY 1)
        |SELECT occ.phrase, sc.n_words, occ.n_occurrences,
        |       CAST(round(CAST(sc.su AS DOUBLE) / 100.0) AS BIGINT) / 10000.0
        |         AS score
        |FROM occ JOIN sc USING (phrase)
        |ORDER BY score DESC, phrase LIMIT 30""".stripMargin,
    // Readability replay: the same regex match counts (RE2-safe
    // classes), identical score expression.
    "q258_readability" ->
      """SELECT doc_id,
        |       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
        |         AS n_sentences,
        |       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |         AS n_words,
        |       CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1) AS BIGINT)
        |         AS n_syllables,
        |       CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 = 0 THEN NULL
        |            ELSE round(206.835
        |                 - 1.015 * (CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
        |                            / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |                 - 84.6 * (CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1) AS DOUBLE)
        |                           / (length(text) - length(replace(text, ' ', '')) + 1)), 4)
        |       END AS flesch
        |FROM documents""".stripMargin,
    // Dataset-card replay: the q37/q52 per-doc stats folded in one
    // pass + the q31 pair pipeline's distinct ids.
    "q260_dataset_card" ->
      s"""WITH $MinhashPairsSql,
         |$GopherDocSql,
         |${DocsBaseSql("text", "lang")},
         |$QualityIntSql,
         |g AS (SELECT doc_id, (${gopherPassPred(2)}) AS gopher_pass FROM d),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT b.lang) AS BIGINT) AS n_langs,
         |         CAST(sum(length(b.text)) AS BIGINT) AS total_chars,
         |         CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
         |         CAST(sum(q.qi) AS BIGINT) AS sq,
         |         CAST(count(CASE WHEN g.gopher_pass THEN 1 END) AS BIGINT) AS np
         |  FROM base b JOIN q USING (doc_id) JOIN g USING (doc_id)
         |),
         |dup0 AS (SELECT idA AS id FROM lshpairs UNION SELECT idB FROM lshpairs),
         |dup AS (SELECT CAST(count(*) AS BIGINT) AS ndup FROM dup0)
         |SELECT n_docs, n_langs, total_chars, total_tokens,
         |       round(CAST(sq AS DOUBLE) / n_docs / 10000.0, 4) AS mean_quality,
         |       round(CAST(np AS DOUBLE) / n_docs, 4) AS gopher_pass_rate,
         |       round(CAST(dup.ndup AS DOUBLE) / n_docs, 4) AS neardup_share
         |FROM agg CROSS JOIN dup""".stripMargin,
    // BPE replay: the oracle re-TRAINS the same 8 merges (unrolled
    // argmax CTEs, same count-desc/left/right tie-break) and re-applies
    // them with the same wrapped-token replace semantics.
    "q270_bpe_encode" ->
      s"""WITH ${BpeChainSql(8)}
         |SELECT doc_id,
         |       CAST(CASE WHEN length(text) = 0 THEN 0
         |            ELSE (length(e) - length(replace(e, ' ', '')))
         |               + (length(e) - length(replace(e, chr(4), ''))) + 1 END
         |         AS BIGINT) AS n_bpe_tokens
         |FROM enc8""".stripMargin,
    // Blocklist replay: same word split, same term table, same
    // left-join-back zero fill.
    "q274_blocklist" ->
      s"""WITH terms(term) AS (VALUES ('slow'), ('error'), ('merge')),
        |w AS (${WordRowsSql("w", Seq("doc_id"))}),
        |h AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |         CAST(count(DISTINCT w) AS BIGINT) AS n_terms
        |  FROM w JOIN terms ON w = term GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |       coalesce(h.n_terms, 0) AS n_terms,
        |       coalesce(h.n_hits, 0) > 0 AS flagged
        |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin,
    // NFC replay: utf8proc's nfc_normalize implements the same Unicode
    // canonical composition as java.text.Normalizer — the decomposed
    // suffix (e+U+0301, i+U+0308) composes on both engines, gated per
    // row on codepoint length + md5 of the normalized bytes.
    "q299_nfc_normalize" ->
      """SELECT doc_id,
        |       CAST(length(text || ' nai\u0308ve cafe\u0301') AS BIGINT) AS len_raw,
        |       CAST(length(nfc_normalize(text || ' nai\u0308ve cafe\u0301')) AS BIGINT) AS len_nfc,
        |       md5(nfc_normalize(text || ' nai\u0308ve cafe\u0301')) AS h_nfc
        |FROM documents""".stripMargin,
    // Distinct-n replay: identical per-n shingle construction, the
    // SAME md5 reduction (shared collision behavior, not an
    // approximation), exact distinct per (slice, n).
    "q294_ngram_diversity" ->
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS w
        |  FROM documents WHERE length(text) > 0
        |),
        |g1 AS (
        |  SELECT source, 1 AS n, md5(s) AS h
        |  FROM (SELECT source, unnest(w) AS s FROM w)
        |),
        |g2 AS (
        |  SELECT source, 2 AS n, md5(s) AS h
        |  FROM (SELECT source,
        |          unnest(list_transform(range(1, len(w)),
        |                                i -> w[i] || ' ' || w[i+1])) AS s
        |        FROM w WHERE len(w) >= 2)
        |),
        |g3 AS (
        |  SELECT source, 3 AS n, md5(s) AS h
        |  FROM (SELECT source,
        |          unnest(list_transform(range(1, len(w) - 1),
        |                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |        FROM w WHERE len(w) >= 3)
        |),
        |a AS (
        |  SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3
        |)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS total_ngrams,
        |       CAST(count(DISTINCT h) AS BIGINT) AS distinct_ngrams,
        |       round(CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6)
        |         AS distinct_ratio
        |FROM a GROUP BY 1, 2""".stripMargin,
    // Stupid-backoff replay: identical count tables from the en slice,
    // the same left joins, the same PARENTHESIZED α products (0.4·(x)
    // and 0.4·(0.4·(x)) — multiplication order matters in doubles),
    // ln only at the end, 4dp at the final projection (q141 contract).
    "q317_stupid_backoff" ->
      s"""WITH ${WordListsSql(Seq("doc_id", "lang"))},
        |${TermCountsSql("uni", "w1", "c1", where = "lang = 'en'")},
        |ntot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tot FROM uni),
        |bi AS (
        |  SELECT a, b, count(*) AS c2
        |  FROM (${NgramsSql("wd WHERE lang = 'en'", Seq("a", "b"))})
        |  GROUP BY 1, 2
        |),
        |tri AS (
        |  SELECT a, b, c, count(*) AS c3
        |  FROM (${NgramsSql("wd WHERE lang = 'en'", Seq("a", "b", "c"))})
        |  GROUP BY 1, 2, 3
        |),
        |dt AS (
        |  SELECT doc_id, a, b, c, count(*) AS tf
        |  FROM (${NgramsSql("wd", Seq("a", "b", "c"), Seq("doc_id"))})
        |  GROUP BY 1, 2, 3, 4
        |),
        |scored AS (
        |  SELECT d.doc_id, d.tf,
        |         CASE WHEN t.c3 IS NOT NULL
        |                THEN CAST(t.c3 AS DOUBLE) / CAST(ba.c2 AS DOUBLE)
        |              WHEN bb.c2 IS NOT NULL
        |                THEN 0.4 * (CAST(bb.c2 AS DOUBLE) / CAST(ub.c1 AS DOUBLE))
        |              ELSE 0.4 * (0.4 * (CAST(greatest(coalesce(uc.c1, 0), 1) AS DOUBLE)
        |                                 / CAST(n.n_tot AS DOUBLE)))
        |         END AS s
        |  FROM dt d
        |  LEFT JOIN tri t ON d.a = t.a AND d.b = t.b AND d.c = t.c
        |  LEFT JOIN bi ba ON d.a = ba.a AND d.b = ba.b
        |  LEFT JOIN bi bb ON d.b = bb.a AND d.c = bb.b
        |  LEFT JOIN uni ub ON d.b = ub.w1
        |  LEFT JOIN uni uc ON d.c = uc.w1
        |  CROSS JOIN ntot n
        |)
        |SELECT doc_id, ${MeanSurprisalSql("n_tris", "s")}
        |FROM scored GROUP BY 1""".stripMargin,
    // Sketched distinct-n replay: identical shingle construction as
    // q294, then the HLL register rebuild (HllChainSql — same md5
    // index/payload split and exact-integer harmonic sum as the
    // engine's sketch), grouped on a composite (slice, n) key. The
    // ratio divides the UNROUNDED estimate, rounding only at the
    // final projection — the engine does the same.
    "q314_ngram_diversity_hll" ->
      s"""WITH w AS (
         |  SELECT source, string_split(text, ' ') AS w
         |  FROM documents WHERE length(text) > 0
         |),
         |g1 AS (
         |  SELECT source, 1 AS n, s
         |  FROM (SELECT source, unnest(w) AS s FROM w)
         |),
         |g2 AS (
         |  SELECT source, 2 AS n, s
         |  FROM (SELECT source,
         |          unnest(list_transform(range(1, len(w)),
         |                                i -> w[i] || ' ' || w[i+1])) AS s
         |        FROM w WHERE len(w) >= 2)
         |),
         |g3 AS (
         |  SELECT source, 3 AS n, s
         |  FROM (SELECT source,
         |          unnest(list_transform(range(1, len(w) - 1),
         |                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |        FROM w WHERE len(w) >= 3)
         |),
         |grams AS (
         |  SELECT source || '#' || CAST(n AS VARCHAR) AS gk, s
         |  FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         |        UNION ALL SELECT * FROM g3)
         |),
         |${HllChainSql("nd", "s", "gk", "gk", "grams")},
         |tot AS (
         |  SELECT gk, CAST(count(*) AS BIGINT) AS total_ngrams
         |  FROM grams GROUP BY 1
         |)
         |SELECT split_part(t.gk, '#', 1) AS source,
         |       CAST(split_part(t.gk, '#', 2) AS BIGINT) AS n,
         |       t.total_ngrams,
         |       round(h.est, 4) AS approx_distinct,
         |       round(h.est / t.total_ngrams, 6) AS approx_ratio
         |FROM tot t JOIN nd_est h USING (gk)""".stripMargin,
    // KN replay: the q141 bigram frame + continuation tables; D=0.75
    // is exact (3/4), one pinned probability expression.
    "q401_kn_bigram" ->
      s"""WITH ${WordListsSql(Seq("doc_id"))},
        |tf AS MATERIALIZED (
        |  SELECT doc_id, p, c, count(*) AS tf
        |  FROM (${NgramsSql("wd", Seq("p", "c"), Seq("doc_id"))}) GROUP BY 1, 2, 3
        |),
        |pc AS MATERIALIZED (SELECT p, c, sum(tf) AS pc FROM tf GROUP BY 1, 2),
        |ctx AS (
        |  SELECT p, sum(pc) AS ctx, CAST(count(*) AS BIGINT) AS n1fwd
        |  FROM pc GROUP BY 1
        |),
        |n1rev AS (SELECT c, CAST(count(*) AS BIGINT) AS n1rev FROM pc GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM pc)
        |SELECT t.doc_id,
        |       ${MeanSurprisalSql("n_pairs", KnProbSql, "t.tf")}
        |FROM tf t
        |JOIN pc USING (p, c) JOIN ctx USING (p) JOIN n1rev USING (c)
        |CROSS JOIN ty
        |GROUP BY 1""".stripMargin,
    // Mojibake replay: identical salting (same literal artifact
    // strings), identical RE2 \x{...} codepoint-class patterns.
    "q390_mojibake" ->
      """WITH salted AS (
        |  SELECT doc_id, source,
        |    substring(text, 1, 30) ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' cafÃ© naÃ¯ve' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ��broken' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' itâ€™s ok' ELSE '' END ||
        |    ' ' || substring(text, 31, 100000) AS text
        |  FROM documents
        |),
        |c AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS r,
        |    CAST(len(regexp_extract_all(text,
        |         '\x{00C3}[\x{0080}-\x{00BF}]|\x{00E2}\x{20AC}.')) AS BIGINT) AS m,
        |    CAST(len(regexp_extract_all(text, '[\x{0080}-\x{009F}]')) AS BIGINT) AS cc
        |  FROM salted
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) FILTER (r + m + cc > 0) AS BIGINT) AS n_flagged,
        |       CAST(sum(r) AS BIGINT) AS repl_chars,
        |       CAST(sum(m) AS BIGINT) AS mangled_seqs,
        |       CAST(sum(cc) AS BIGINT) AS c1_chars,
        |       round(CAST(count(*) FILTER (r + m + cc > 0) AS DOUBLE)
        |             / count(*), 4) AS flag_rate
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // Fertility replay: the q270 BPE chain + token formula, non-empty
    // single-space word counts (the shared split semantics), two
    // divisions of exact longs.
    "q392_fertility" ->
      s"""WITH ${BpeChainSql(8)},
         |tok AS (
         |  SELECT doc_id,
         |         CAST(CASE WHEN length(text) = 0 THEN 0
         |              ELSE (length(e) - length(replace(e, ' ', '')))
         |                 + (length(e) - length(replace(e, chr(4), ''))) + 1 END
         |           AS BIGINT) AS n_bpe_tokens
         |  FROM enc8
         |),
         |w AS (
         |  SELECT d.lang,
         |         CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
         |           AS BIGINT) AS nw,
         |         CAST(length(d.text) AS BIGINT) AS nc,
         |         t.n_bpe_tokens
         |  FROM documents d JOIN tok t USING (doc_id)
         |)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nw) AS BIGINT) AS n_words,
         |       CAST(sum(n_bpe_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       round(CAST(sum(n_bpe_tokens) AS DOUBLE) / sum(nw), 4) AS fertility,
         |       round(CAST(sum(nc) AS DOUBLE) / sum(n_bpe_tokens), 4)
         |         AS chars_per_token
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
