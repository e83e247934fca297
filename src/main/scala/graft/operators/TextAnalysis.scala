package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-corpus analysis for training-data pipelines: token metrics,
  * language-ID heuristic, quality scoring, content fingerprinting.
  *
  * Everything is built from codegen'd built-ins and kept
  * engine-portable (pure length/replace arithmetic and md5) so results
  * are bit-identical across engines — see SURVEY.md §3.
  */
object TextAnalysis {

  /** Number of single-space-separated tokens. */
  def tokenCount(text: Column): Column =
    when(length(text) === 0, lit(0))
      .otherwise(length(text) - length(replace(text, lit(" "), lit(""))) + 1)

  def words(text: Column): Column = split(text, " ")

  /** The word stream `(keys…, term)`: one row per word of each document
    * — the one explode every corpus statistic below starts from.
    * Oracle twin: `QueryHelpers.WordRowsSql`.
    */
  private[graft] def wordRows(
      df: DataFrame, keys: Seq[Column], textCol: String, term: String): DataFrame =
    df.select(keys :+ explode(words(col(textCol))).as(term): _*)

  /** [[wordRows]] counted per `(keys…, term)` into `cnt`: the term
    * frequencies, map-side combined before the one exchange on the key.
    * Oracle twin: `QueryHelpers.TermCountsSql`.
    */
  private[graft] def termCounts(
      df: DataFrame, keys: Seq[Column], textCol: String, term: String, cnt: String): DataFrame = {
    val rows = wordRows(df, keys, textCol, term)
    rows.groupBy(rows.columns.map(col): _*).agg(count(lit(1)).as(cnt))
  }

  /** The in-row word n-grams (width `fields.size`, 2 or 3) of every
    * document with at least that many words: `keep` plus one struct
    * column `as` per position, its words named `fields`. Zips shifted
    * slices of the word array, so the corpus is never window-sorted.
    * Oracle twin: `QueryHelpers.NgramsSql`.
    */
  private[operators] def ngrams(
      df: DataFrame, textCol: String, fields: Seq[String], as: String, keep: Column*): DataFrame = {
    val w = words(col(textCol))
    val n = fields.size
    def from(i: Int) = slice(w, lit(i + 1), size(w) - (n - 1))
    val first = zip_with(from(0), from(1), (a, b) => struct(a.as(fields(0)), b.as(fields(1))))
    val grams = (2 until n).foldLeft(first) { (acc, i) =>
      zip_with(acc, from(i), (g, x) =>
        struct(fields.take(i).map(f => g.getField(f).as(f)) :+ x.as(fields(i)): _*))
    }
    df.filter(size(w) >= n).select(keep :+ explode(grams).as(as): _*)
  }

  /** [[ngrams]] of width 2 counted per `(keep…, fields)` into `cnt`. */
  private def bigramCounts(
      df: DataFrame, textCol: String, fields: Seq[String], as: String, cnt: String,
      keep: Column*): DataFrame =
    ngrams(df, textCol, fields, as, keep: _*)
      .groupBy(keep ++ fields.map(f => col(s"$as.$f").as(f)): _*)
      .agg(count(lit(1)).as(cnt))

  /** The per-document mean surprisal of a scored `(keys…, tf, …)` frame:
    * `(keys…, n = Σtf, mean(−Σ tf·ln p / n))`, the mean rounded to a
    * 4 dp `nll` unless `mean` finishes it otherwise. Oracle twin:
    * `QueryHelpers.MeanSurprisalSql`.
    */
  private def meanSurprisal(
      scored: DataFrame, keys: Seq[String], n: String, p: Column,
      mean: Column => Column = m => round(m, 4).as("nll")): DataFrame =
    scored.groupBy(keys.map(col): _*)
      .agg(sum("tf").as(n), sum(d(col("tf")) * log(p)).as("__ll"))
      .select(keys.map(col) ++ Seq(col(n), mean(-col("__ll") / d(col(n)))): _*)

  /** BPE-ish token count: letter runs, digit runs, and punctuation
    * runs, each optionally space-prefixed — the GPT-2 pretokenizer
    * shape reduced to ASCII classes. The regex is deliberately RE2-
    * compatible (no backrefs/lookahead) so any oracle engine counts
    * identically.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"), lit(0)))

  /** Count of tokens equal to `w`. */
  def tokenOccurrences(text: Column, w: String): Column =
    size(filter(words(text), t => t === lit(w)))

  /** Per-doc token metrics: n_tokens, n_distinct, avg_token_len. */
  def tokens(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val n = tokenCount(t)
    df.withColumn("n_tokens", n)
      .withColumn("n_distinct", size(array_distinct(words(t))))
      .withColumn("avg_token_len",
        round((length(t) - (n - 1)).cast("double") / n, 4))
  }

  /** Stopword-profile language scorer: score per language = occurrences
    * of that language's marker tokens / n_tokens; predicted language =
    * argmax with deterministic lexicographic tie-break.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "y"),
    "fr" -> Seq("le", "la", "et"))

  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // materialize the token array once: twelve marker counters over an
    // inlined split() would re-split every document twelve times
    // (CollapseProject keeps a multiply-referenced non-cheap alias in
    // its own projection, so this stays a single evaluation)
    val withWords = df.withColumn("__w", words(t))
    def occ(w: String) = size(filter(col("__w"), x => x === lit(w)))
    val n = tokenCount(t).cast("double")
    val scored = LangMarkers.foldLeft(withWords) { case (d, (lang, markers)) =>
      d.withColumn(s"score_$lang",
        round(markers.map(occ).reduce(_ + _) / n, 4))
    }
    val best = LangMarkers
      .map { case (lang, _) => struct(col(s"score_$lang").as("s"), lit(lang).as("l")) }
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored
      .withColumn("lang_pred",
        when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
      .drop("__w")
  }

  /** G7b trained language-ID: self-trained per-language character-
    * TRIGRAM Naive Bayes (the char-n-gram model real curation
    * pipelines use — langid.py / CLD shape), replacing G7's fixed
    * stopword markers with distributions learned from a labeled
    * slice of the corpus itself.
    *
    * Split: docs whose first md5 nibble of (id ":lid") is ≥ 4 train
    * (75%), the rest are scored — the q54 deterministic-hash-split
    * contract, replayable in any engine with md5. Model: Laplace
    * log P(tri|lang) = ln((c+1)/(tot_lang+V)) and class prior
    * ln(n_lang/n), both in INTEGER MICRO-UNITS (round(ln·1e6) as
    * long), so every document score is an exact integer sum —
    * order-invariant, engine-identical. Prediction: argmax with ties
    * to the lexicographically smallest language.
    *
    * Scale shape: model tables are VOCABULARY-grain (≤ langs·|tri|;
    * char trigrams are bounded ~1e5 even at 100 TB) and broadcast as
    * one per-trigram log-prob VECTOR over the sorted language list —
    * scoring is a map-only broadcast join at (doc, tri) grain plus
    * ONE doc-keyed [[graft.functions.VectorSum]] combine; unseen
    * trigrams fall back to the per-language Laplace floor vector.
    * No per-language expansion of the data, no window anywhere.
    *
    * Output: (idCol, langCol true label, lang_pred) for the SCORED
    * (test) slice.
    */
  def langIdTrained(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val micro = (x: Column) => round(log(x) * 1e6, 0).cast("long")
    val nib = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":lid"))), 1, 1), 16, 10).cast("long")
    // r16: native one-pass trigram slicing — the HOF form
    // (transform(sequence…, i → substring(text, i, 3))) was interpreted
    // AND O(len²) per doc (each substring(i,3) re-walks i code points);
    // CharTrigrams emits the identical slices in one byte pass.
    val tris = graft.functions.NativeText.charTrigrams(col(textCol))
    // spread(): the trigram explode below fans ~len(text) rows per doc
    // out of the scan partitions — 1-2 splits for the driver tables
    // (the q173/q430 single-task measurement class, r16)
    val base = spread(df).filter(length(col(textCol)) >= 3)
      .select(col(idCol), col(langCol), tris.as("__tris"), nib.as("__nib"))
    val train = base.filter(col("__nib") >= 4)
    val test = base.filter(col("__nib") < 4)

    val trainTris = train.select(col(langCol),
      explode(col("__tris")).as("tri"))
    // localCheckpoint: the count table feeds tot/vRow/dimRow AND the
    // broadcast model build — each broadcast materialization is its own
    // job, and without the cut every one re-ran the full trigram
    // explode+combine (r16: the dominant repeated subtree). V (distinct
    // trigrams) is derived from c rather than re-scanning the explode —
    // same value, count_distinct over the (tri, lang) grain.
    val c = trainTris.groupBy("tri", langCol).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = c.groupBy(langCol).agg(sum("c").as("tot"))
    val vRow = c.agg(count_distinct(col("tri")).as("v"))
    val prior = train.groupBy(langCol).agg(count(lit(1)).as("nd"))
    val ndAll = train.agg(count(lit(1)).as("nd_all"))
    // one-row language dim: sorted langs + per-lang Laplace floor and
    // prior vectors (dim grain — a handful of rows folding to one)
    val dimRow = tot.join(prior, langCol).crossJoin(vRow).crossJoin(ndAll)
      .select(col(langCol),
        micro(lit(1.0) / (col("tot") + col("v")).cast("double")).as("l0"),
        micro(col("nd").cast("double") / col("nd_all")).as("lp"))
      .agg(sort_array(collect_list(
        struct(col(langCol), col("l0"), col("lp")))).as("d"))
      .select(
        transform(col("d"), x => x.getField(langCol)).as("__langs"),
        transform(col("d"), x => x.getField("l0")).as("__l0"),
        transform(col("d"), x => x.getField("lp")).as("__lp"))
    // per-trigram log-prob vector over the sorted langs, floor-filled
    val modelByTri = c.join(broadcast(tot), langCol)
      .crossJoin(broadcast(vRow))
      .select(col("tri"), col(langCol),
        micro((col("c") + 1).cast("double") /
          (col("tot") + col("v")).cast("double")).as("l"))
      .groupBy("tri")
      .agg(map_from_entries(collect_list(
        struct(col(langCol), col("l")))).as("__m"))
      .crossJoin(broadcast(dimRow))
      .select(col("tri"), zip_with(col("__langs"), col("__l0"),
        (lang, l0) => coalesce(element_at(col("__m"), lang), l0)).as("__lv"))
    val docTf = test
      .select(col(idCol), col(langCol), explode(col("__tris")).as("tri"))
      .groupBy(col(idCol), col(langCol), col("tri"))
      .agg(count(lit(1)).as("tf"))
    docTf
      .join(broadcast(modelByTri), Seq("tri"), "left")
      .crossJoin(broadcast(dimRow))
      .select(col(idCol), col(langCol),
        transform(coalesce(col("__lv"), col("__l0")),
          x => x * col("tf")).as("__vec"))
      .groupBy(col(idCol), col(langCol))
      .agg(graft.functions.VectorSum.vectorSum(col("__vec")).as("__s"))
      .crossJoin(broadcast(dimRow))
      .withColumn("__st", zip_with(col("__s"), col("__lp"), _ + _))
      .select(col(idCol), col(langCol),
        element_at(col("__langs"),
          array_position(col("__st"), array_max(col("__st"))).cast("int"))
          .as("lang_pred"))
  }

  /** Composite quality score in [0,1]:
    * 0.4·min(n_tokens/100, 1) + 0.3·distinct-ratio + 0.3·(1 − stopword-ratio).
    *
    * The score is the rational (4·min(n,100)·n + 300·distinct +
    * 300·(n − stop)) / (1000·n), rounded half-up to 4 dp in INTEGER
    * arithmetic — floor((num·20000 + den) / (2·den)) / 10000 — because
    * engines disagree on boundary doubles: Spark's round() goes through
    * the shortest decimal string (0.59825 → 0.5983) while DuckDB rounds
    * the binary value (0.598249999… → 0.5982). Integer rounding makes
    * every engine produce the same 4-dp value by construction. (The
    * double division below is exact enough: quotients have denominator
    * ≤ 2·10⁵·n, so non-integers are ≥ 1e-5 away from integers while
    * division error is ~1e-12 — floor can never land on the wrong side.)
    */
  def quality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val n = tokenCount(t).cast("long")
    val stop = (tokenOccurrences(t, "the") + tokenOccurrences(t, "a")).cast("long")
    val distinct = size(array_distinct(words(t))).cast("long")
    val numerator = lit(4L) * least(n, lit(100L)) * n + lit(300L) * distinct +
      lit(300L) * (n - stop)
    val denom = lit(1000L) * n
    val scaled = floor((numerator * 20000L + denom).cast("double") /
      (denom * 2L).cast("double"))
    df.withColumn("quality", scaled / 10000.0)
  }

  /** Punctuation ratio: non-alphanumeric-non-space chars / length
    * (0.0 for empty text), rounded 4dp. RE2-compatible char class so
    * oracles count identically.
    */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(round(
        (length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", "")))
          .cast("double") / length(text), 4))

  /** Content fingerprint (md5 hex). */
  def fingerprint(df: DataFrame, textCol: String = "text", out: String = "fp"): DataFrame =
    df.withColumn(out, md5(col(textCol)))

  /** Gopher-style stopword list (Rae et al. 2021, "Scaling Language
    * Models", §A1.1 quality filtering): a document should contain at
    * least two of these.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Dataset card — the one-row datasheet a corpus release ships
    * (Gebru et al. 2021's "datasheets for datasets", reduced to the
    * numbers): corpus size, language spread, token mass, mean
    * quality, Gopher pass rate, and the near-duplicate share from
    * the G2 banded pipeline. The summary every downstream consumer
    * reads before anything else.
    *
    * Scale shape: ONE corpus scan folds every per-doc statistic
    * (exact integer quality units, token counts, the G13 pass flag);
    * the near-dup share adds the G2 pair pipeline and a distinct
    * count over its ≤pairs ids; the two one-row frames meet in a
    * broadcast. Output: one row (n_docs, n_langs, total_chars,
    * total_tokens, mean_quality, gopher_pass_rate, neardup_share).
    */
  def datasetCard(df: DataFrame): DataFrame = {
    val scored = gopherRules(quality(df))
    val base = scored.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum(length(col("text")).cast("long")).as("total_chars"),
      sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
      sum(round(col("quality") * 10000).cast("long")).as("__sq"),
      sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("__np"))
    val dup = graft.operators.Dedup.minhashLshPairs(df)
      .select(explode(array(col("idA"), col("idB"))).as("__id"))
      .agg(countDistinct(col("__id")).as("__ndup"))
    base.crossJoin(broadcast(dup))
      .select(col("n_docs"), col("n_langs"), col("total_chars"),
        col("total_tokens"),
        round(d(col("__sq")) / col("n_docs") / 10000.0, 4).as("mean_quality"),
        round(d(col("__np")) / col("n_docs"), 4).as("gopher_pass_rate"),
        round(d(col("__ndup")) / col("n_docs"), 4).as("neardup_share"))
  }

  /** Flesch-style readability scoring — 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words), with syllables
    * approximated as VOWEL GROUPS (the standard cheap proxy; stated,
    * deterministic, language-naive). The classic prose-complexity
    * feature for curation filters: very low scores flag run-on
    * machine text, very high ones flag fragment spam.
    *
    * Determinism: sentences, words, and vowel groups are REGEX
    * COUNTS (RE2-compatible patterns, identical in the oracle);
    * the score is one double expression of exact integer counts,
    * 4dp. Map-only.
    *
    * Output: df + (n_sentences, n_words, n_syllables, flesch).
    */
  def readability(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // regexp_extract_all, not split: a count is the number of matched
    // runs, while a split counts the segments between them — one more
    // whenever the text does not end in a match (both engines keep that
    // empty trailing segment)
    def matches(c: Column, pat: String): Column =
      size(expr(s"regexp_extract_all($textCol, '$pat', 0)"))
    val sentences = greatest(matches(t, "[.!?]+"), lit(1)).cast("long")
    val nWords = tokenCount(t).cast("long")
    val syllables = greatest(matches(t, "[aeiouyAEIOUY]+"), lit(1)).cast("long")
    df.withColumn("n_sentences", sentences)
      .withColumn("n_words", nWords)
      .withColumn("n_syllables", syllables)
      .withColumn("flesch",
        when(col("n_words") === 0, lit(null)).otherwise(round(
          lit(206.835) - lit(1.015) * (d(col("n_words")) / col("n_sentences")) -
            lit(84.6) * (d(col("n_syllables")) / col("n_words")), 4)))
  }

  /** RAKE-style keyword extraction (Rose et al. 2010) — candidate
    * phrases are the maximal stopword-free token runs; each word
    * scores degree/frequency (degree = Σ phrase length over phrases
    * containing it — long-phrase membership is evidence of
    * content-bearing words), and a phrase scores the sum of its
    * words' scores. The zero-model keyword extractor for corpus
    * exploration and doc tagging.
    *
    * Determinism: phrase splitting is ONE word-boundary regex
    * replace + split (RE2-compatible, identical in the oracle); word
    * scores quantize to integer micro-units before the ≤maxWords-
    * term phrase sum, so no float fold order can differ; top-k is a
    * TakeOrdered heap on (score desc, phrase). Scale shape: phrase
    * explode → one (word) combine for the stats → word-keyed join
    * back (AQE-skew-safe) → one (phrase) combine.
    *
    * Output: (phrase, n_words, n_occurrences, score), top k.
    */
  def rakeKeywords(
      df: DataFrame,
      textCol: String = "text",
      k: Int = 30,
      maxWords: Int = 4,
      stopwords: Seq[String] = GopherStopwords): DataFrame = {
    // lowercase first so capitalized stopwords ("The") split too; the
    // phrase delimiter is an out-of-band control char — a literal '|'
    // in document text must NOT create a phrase boundary
    val pat = "\\b(" + stopwords.mkString("|") + ")\\b"
    val phrases = spread(df)
      .select(explode(split(regexp_replace(lower(col(textCol)), pat, "\u0001"),
          "\u0001"))
        .as("__raw"))
      .select(trim(col("__raw")).as("phrase"))
      .filter(col("phrase") =!= "" &&
        size(split(col("phrase"), " ")) <= maxWords)
      .localCheckpoint()
    val words = phrases
      .select(col("phrase"), size(split(col("phrase"), " ")).as("__len"),
        explode(split(col("phrase"), " ")).as("__w"))
    val stats = words.groupBy("__w")
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .withColumn("__wu",
        round(col("__deg").cast("double") / col("__freq") * 1e6).cast("long"))
    // score each DISTINCT phrase once from its words; occurrences
    // counted separately so repeated phrases don't inflate the score
    val scored = phrases.select(col("phrase")).distinct()
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("__w"))
      .join(stats.select(col("__w"), col("__wu")), Seq("__w"))
      .groupBy("phrase")
      .agg(sum(col("__wu")).as("__su"), count(lit(1)).cast("long").as("n_words"))
    phrases.groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
      .join(scored, Seq("phrase"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        (round(col("__su").cast("double") / 100.0).cast("long") / 10000.0)
          .as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  /** Blocklist term matching — the policy-filter stage every corpus
    * release runs (banned terms, canary strings, licensing markers):
    * per-document hit counts against a term table. Scale shape: the
    * exploded word stream joins the BROADCAST term dim (no corpus
    * shuffle keyed on text), collapses to one row per flagged doc,
    * and attaches back id-keyed; clean docs pay one broadcast probe
    * per word and nothing else.
    *
    * Output: input columns + (n_hits, n_terms, flagged).
    */
  def blocklistHits(
      df: DataFrame,
      terms: DataFrame,
      termCol: String = "term",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val hits = wordRows(spread(df), Seq(col(idCol)), textCol, "__w")
      .join(broadcast(terms.select(col(termCol).as("__w")).distinct()), Seq("__w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("__w")).as("n_terms"))
    df.join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("n_terms", coalesce(col("n_terms"), lit(0L)))
      .withColumn("flagged", col("n_hits") > 0)
  }

  /** Gopher-style quality-filter rules (Rae et al. 2021 §A1.1), each as
    * a per-document flag plus the composite `gopher_pass`:
    *
    *  - `ok_words`:    word count within [minWords, maxWords]
    *  - `ok_mean_len`: mean word length within [3, 10] characters
    *  - `ok_alpha`:    ≥ 80% of words contain an alphabetic character
    *  - `ok_stop`:     ≥ `minStopwords` (default 2, the paper's value)
    *                   stopwords from [[GopherStopwords]] present
    *  - `ok_symbol`:   symbol (non-alphanumeric-non-space) chars ≤ 10%
    *
    * Every rule is evaluated in INTEGER arithmetic (e.g. mean-length ∈
    * [3,10] becomes `3n ≤ chars ≤ 10n`), so the flags are exact in any
    * engine — no float thresholds to disagree on. Scale shape: pure
    * per-row projection, no shuffle, stays inside whole-stage codegen.
    */
  def gopherRules(
      df: DataFrame,
      textCol: String = "text",
      minWords: Int = 30,
      maxWords: Int = 100000,
      minStopwords: Int = 2): DataFrame = {
    val t = col(textCol)
    val w = words(t)
    val n = tokenCount(t).cast("long")
    val len = length(t).cast("long")
    // chars-in-words = total length minus the (n-1) separator spaces
    val wordChars = len - (n - lit(1L))
    val alphaWords = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopHits = GopherStopwords
      .map(m => when(array_contains(w, m), 1).otherwise(0))
      .reduce(_ + _)
      .cast("int")
    val symbols = (length(t) - length(regexp_replace(t, "[^A-Za-z0-9 ]", ""))).cast("long")
    val okWords = n.between(minWords.toLong, maxWords.toLong)
    val okMeanLen = n > 0 && wordChars >= lit(3L) * n && wordChars <= lit(10L) * n
    val okAlpha = alphaWords * 10 >= n * 8
    val okStop = stopHits >= minStopwords
    val okSymbol = symbols * 10 <= len
    df.withColumn("n_words", n)
      .withColumn("alpha_words", alphaWords)
      .withColumn("stop_hits", stopHits)
      .withColumn("ok_words", okWords)
      .withColumn("ok_mean_len", okMeanLen)
      .withColumn("ok_alpha", okAlpha)
      .withColumn("ok_stop", okStop)
      .withColumn("ok_symbol", okSymbol)
      .withColumn("gopher_pass", okWords && okMeanLen && okAlpha && okStop && okSymbol)
  }

  /** Round the exact rational num/den half-up to 4 dp in integer
    * arithmetic — engine-portable for the same reason as [[quality]]'s
    * score (the double division is exact enough that floor cannot land
    * on the wrong side; see that scaladoc).
    */
  private[operators] def ratio4(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(
      floor((num * 20000L + den).cast("double") / (den * 2L).cast("double")) / 10000.0)

  /** Intra-document repetition signals (Gopher §A1.1 "repetitious"
    * rules): over the document's word `n`-grams (with duplicates),
    *
    *  - `n_grams`:   total n-gram count
    *  - `top_count`: occurrences of the most frequent n-gram
    *  - `dup_count`: n-gram instances whose gram occurs more than once
    *  - `top_frac` / `dup_frac`: the two counts / `n_grams`, 4 dp
    *
    * Scale shape: the grams are sorted IN-ROW and the counts come from
    * a single run-length pass (`aggregate` over the sorted array) — a
    * pure projection with NO shuffle, unlike the naive
    * explode→groupBy(doc, gram) formulation (equivalence pinned by
    * spec). Documents with fewer than n words report all-zero.
    */
  def repetition(df: DataFrame, textCol: String = "text", n: Int = 2): DataFrame = {
    val sorted = array_sort(Dedup.shingles(col(textCol), n))
    // run-length fold: (prev gram, current run, max run, #singleton grams, total)
    val init = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx"),
      lit(0L).as("single"), lit(0L).as("total"))
    val folded = aggregate(
      sorted,
      init,
      (a, x) => {
        val same = x === a.getField("prev")
        val run = when(same, a.getField("run") + 1L).otherwise(lit(1L))
        struct(
          x.as("prev"),
          run.as("run"),
          greatest(a.getField("mx"), run).as("mx"),
          (a.getField("single") +
            when(!same && a.getField("run") === 1L, 1L).otherwise(0L)).as("single"),
          (a.getField("total") + 1L).as("total"))
      },
      a => struct(
        a.getField("total").as("total"),
        a.getField("mx").as("mx"),
        // close the final run, then duplicates = total − singletons
        (a.getField("total") - a.getField("single") -
          when(a.getField("run") === 1L, 1L).otherwise(0L)).as("dup")))
    df.withColumn("__r", folded)
      .withColumn("n_grams", col("__r.total"))
      .withColumn("top_count", col("__r.mx"))
      .withColumn("dup_count", col("__r.dup"))
      .withColumn("top_frac", ratio4(col("__r.mx"), col("__r.total")))
      .withColumn("dup_frac", ratio4(col("__r.dup"), col("__r.total")))
      .drop("__r")
  }

  /** CCNet-style unigram language-model scoring (Wenzek et al. 2020's
    * perplexity filter reduced to its unigram form): the mean negative
    * log-probability of each document's words under the corpus's own
    * unigram distribution, self-trained in the same job. High `nll` =
    * surprising/noisy document; low = stereotyped.
    *
    * Scale design: two keyed aggregations. Per-(doc, word) term
    * frequencies collapse duplicate words map-side before the shuffle;
    * the vocabulary (word → corpus frequency) lives on the word key,
    * joined back to the term rows with a word-keyed shuffle join —
    * never broadcast, so an arbitrarily large vocabulary still
    * streams. The corpus total is a one-row aggregate cross-joined as
    * a broadcast, not a collect. All counts are exact integers; the
    * only floats are the final ln() terms, summed per document and
    * rounded at the projection.
    *
    * Output: (idCol, n_words, nll).
    */
  def unigramLm(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = termCounts(df, Seq(col(idCol)), textCol, "word", "tf")
    // corpus frequency via partial aggregation on the word key — a
    // word-partitioned window would funnel every occurrence of "the"
    // (≈ the whole corpus, under Zipf) into ONE task with no map-side
    // combine and no AQE split. groupBy absorbs the skew map-side and
    // its output is vocabulary-sized; deriving it from `tf` lets
    // ReuseExchange share the (doc, word) shuffle, so the corpus is
    // still scanned and exploded exactly once. The join back runs on
    // the word key (AQE skew-join applies), never broadcast, so an
    // arbitrarily large vocabulary still streams.
    val cf = tf.groupBy("word").agg(sum("tf").as("cf"))
    // corpus total straight off the text column: one cheap scan, no
    // second pass over the exploded terms
    val total = broadcast(
      df.agg(sum(size(words(col(textCol)))).cast("long").as("t")))
    meanSurprisal(tf.join(cf, "word").join(total), Seq(idCol), "n_words",
      d(col("cf")) / d(col("t")))
  }

  /** The number of doc-id checkpoints [[heapsLaw]] fits over (q328's
    * oracle spells the same 10).
    */
  private val HeapsPoints = 10

  /** Heaps' law vocabulary-growth fit per slice — V(T) ≈ K·T^β over
    * [[HeapsPoints]] doc-id-ordered checkpoints: the corpus-SCALING
    * diagnostic that [[vocabRichness]]'s point estimate can't give.
    * β ≈ 0.4–0.6 is natural language (collect 10× tokens → ~10^β×
    * vocabulary); β near 1 flags an id-like token stream (vocabulary
    * grows as fast as the corpus — a tokenizer or PII leak), β near 0
    * a saturated/templated slice.
    *
    * Rank-free by construction: checkpoints are doc-ID VALUE
    * thresholds th_k = lo−1 + ((hi−lo+1)·k) div 10 (exact
    * positive-integer arithmetic, engine-identical), never an exact
    * decile — no doc-grain sort or per-slice row_number anywhere.
    * V_k counts words whose FIRST doc (min doc-id, a vocab-grain
    * combine) is ≤ th_k; T_k sums tokens over docs ≤ th_k. Both ride
    * a ≤10-row-per-slice broadcast of thresholds and map-side
    * combines; the fit is D9's exact-decimal trend over micro-nat
    * logs (the G60 pattern). Checkpoints with V or T = 0 drop.
    *
    * Output: (slice, n_points, heaps_beta 4dp, intercept 4dp — ln K
    * in micro-nats per micro-nat, r2 4dp).
    */
  def heapsLaw(
      df: DataFrame,
      sliceCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ks = (1 to HeapsPoints).map(lit(_))
    val kdim = broadcast(df
      .groupBy(col(sliceCol))
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
      .select(col(sliceCol), explode(array(ks: _*)).as("k"),
        col("__lo"), col("__hi"))
      // positive-operand integer div — engine-identical (negatives are
      // not; doc ids are nonnegative by contract)
      .select(col(sliceCol), col("k"),
        expr(s"__lo - 1 + ((__hi - __lo + 1) * k) div $HeapsPoints")
          .cast("long").as("__th")))
    val firsts = wordRows(df, Seq(col(sliceCol), col(idCol)), textCol, "word")
      .groupBy(col(sliceCol), col("word"))
      .agg(min(col(idCol)).as("__fd"))
    val v = firsts.join(kdim, Seq(sliceCol))
      .filter(col("__fd") <= col("__th"))
      .groupBy(col(sliceCol), col("k"))
      .agg(count(lit(1)).as("__v"))
    val t = df
      .select(col(sliceCol), col(idCol),
        size(words(col(textCol))).cast("long").as("__tok"))
      .join(kdim, Seq(sliceCol))
      .filter(col(idCol) <= col("__th"))
      .groupBy(col(sliceCol), col("k"))
      .agg(sum(col("__tok")).as("__t"))
    val pts = v.join(t, Seq(sliceCol, "k"))
      .filter(col("__v") > 0 && col("__t") > 0)
      .withColumn("x", round(log(col("__t")) * 1e6).cast("long"))
      .withColumn("y", round(log(col("__v")) * 1e6).cast("long"))
    Rollups.linearTrend(pts, Seq(sliceCol), "x", "y")
      .withColumnRenamed("slope", "heaps_beta")
      .select(col(sliceCol), col("n_points"), col("heaps_beta"),
        col("intercept"), col("r2"))
  }

  /** Vocabulary richness per slice — how much of the language does
    * this corpus slice actually cover, and how much is left unseen?
    * Two classical estimators off the word-frequency spectrum:
    * Chao1 species richness (Chao 1984, bias-corrected form
    * D + f1(f1−1)/(2(f2+1)) — the lower bound on TRUE vocabulary size
    * implied by how many words appeared exactly once/twice) and
    * Good–Turing coverage 1 − f1/N (the probability the NEXT token is
    * a word already seen). The pre-flight read a corpus-expansion
    * decision wants: a slice with low coverage and Chao1 ≫ D still
    * has unseen vocabulary worth collecting; one with coverage ≈ 1 is
    * saturated.
    *
    * Scale shape: one (slice, word) map-side combine absorbs the Zipf
    * skew, then a vocabulary-grain reduce to slice grain. All counts
    * exact longs; floats only in the two final ratios.
    *
    * Output: (slice, n_tokens, vocab, f1, f2, chao1 4dp,
    * coverage 4dp).
    */
  def vocabRichness(
      df: DataFrame,
      sliceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    termCounts(df, Seq(col(sliceCol)), textCol, "word", "cf")
      .groupBy(col(sliceCol))
      .agg(
        sum("cf").as("n_tokens"),
        count(lit(1)).as("vocab"),
        count(when(col("cf") === 1, lit(1))).as("f1"),
        count(when(col("cf") === 2, lit(1))).as("f2"))
      .select(col(sliceCol), col("n_tokens"), col("vocab"), col("f1"),
        col("f2"),
        round(col("vocab").cast("double") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2) * (col("f2") + 1)).cast("double"), 4).as("chao1"),
        round(lit(1.0) -
          col("f1").cast("double") / col("n_tokens").cast("double"), 4)
          .as("coverage"))
  }

  /** CCNet-style perplexity bucketing (Wenzek 2020): train a unigram
    * LM PER LANGUAGE, score every document's mean surprisal against
    * its own language's model, and split each language into
    * head / middle / tail terciles — the standard quality-mixing key
    * for web-corpus curation (head = most-fluent third).
    *
    * Tercile assignment is BY VALUE, never by per-doc rank: a
    * lang-partitioned row_number would funnel every document of a
    * language (corpus-grain under a handful of langs) into one task.
    * Instead per-doc surprisal is fixed to integer 10⁻⁴-nat units —
    * a domain bounded by 10⁴·ln(corpus tokens) ≈ a few hundred
    * thousand values regardless of corpus size — histogrammed at
    * (lang, value) grain, and the cumulative count over that bounded
    * domain (grain-guarded) yields the smallest value with
    * 3·cum ≥ n / ≥ 2n as the cut points. Docs AT a cut share its
    * bucket (ties never split an equal value across buckets), so
    * bucket sizes are n/3 up to value ties — the deterministic,
    * engine-portable contract (integer compares only; the q198
    * lesson: never order or threshold on raw doubles).
    *
    * Scale shape: the q59 LM chain — (doc, word) combine, (lang,
    * word)-keyed vocab join (AQE-skew-safe, never broadcast), one
    * lang-grain broadcast of totals — plus a value-grain histogram
    * window and a lang-grain broadcast of the two cuts back onto the
    * doc-grain frame. Text crosses once; no doc-grain sort anywhere.
    *
    * Output: (idCol, langCol, n_words, nll 4dp, bucket).
    */
  def perplexityBuckets(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val tf = termCounts(df, Seq(col(idCol), col(langCol)), textCol, "word", "tf")
    val cf = tf.groupBy(langCol, "word").agg(sum("tf").as("cf"))
    val tot = broadcast(cf.groupBy(langCol).agg(sum("cf").as("t")))
    val nll = meanSurprisal(
      tf.join(cf, Seq(langCol, "word")).join(tot, Seq(langCol)),
      Seq(idCol, langCol), "n_words", d(col("cf")) / d(col("t")),
      m => round(m * 10000).cast("long").as("nll_q"))
    val byLang = Window.partitionBy(col(langCol))
    val run = byLang.orderBy(col("nll_q"))
    val hist = Rollups.grainGuarded(
      nll.groupBy(col(langCol), col("nll_q")).agg(count(lit(1)).as("__c")),
      run, "perplexityBuckets")
      .withColumn("__cum", sum("__c").over(
        run.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum("__c").over(byLang))
    val th = broadcast(hist.groupBy(col(langCol)).agg(
      min(when(col("__cum") * 3 >= col("__n"), col("nll_q"))).as("__t1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("nll_q"))).as("__t2")))
    nll.join(th, Seq(langCol))
      .select(col(idCol), col(langCol), col("n_words"),
        round(col("nll_q").cast("double") / 10000.0, 4).as("nll"),
        when(col("nll_q") <= col("__t1"), lit("head"))
          .when(col("nll_q") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Sparse lexical cosine similarity join — TF-vector cosine over an
    * inverted index of word 3-gram SHINGLES, the embedding-free
    * complement of `SimilaritySearch.cosineNearDupPairs` (and the
    * frequency-weighted upgrade of `Dedup.ngramJaccard`'s set
    * overlap): every document pair with cos(tfA, tfB) ≥ `minCos`,
    * dot products accumulated term-by-term from posting lists.
    * Shingles, not words, are the term space — a natural-language
    * function-word vocabulary is corpus-wide (every df ≈ N, the index
    * degenerates to all-pairs), while shingle frequencies decay fast
    * enough that posting lists are short for everything but boilerplate.
    *
    * Scale shape: the corpus collapses map-side to (doc, shingle, tf)
    * grain; pair work scales with Σ df² over SHARING pairs only, never
    * O(n²) — except through boilerplate shingles, the quadratic
    * scale-killer of every inverted-index join. `maxDf` excludes them
    * from the DOT (posting lists stay ≤ maxDf rows, the in-row pair
    * expansion is bounded by construction) while norms stay exact over
    * the FULL vector, so the capped cosine only under-estimates —
    * conservative, identical in both engines, drops reported via
    * observe(), never silently. All sums are exact integers; floats
    * only in the final sqrt/division, and the threshold compares the
    * ROUNDED cosine so the boundary is engine-portable.
    *
    * Output: (idA, idB, dot, cos).
    */
  def lexicalCosinePairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minCos: Double = 0.8,
      maxDf: Int = 100): DataFrame = {
    // shingles WITH duplicates (unlike NativeText.wordShingles, which
    // dedupes for set-overlap operators) — tf weights are the point;
    // native one-pass construction (the interpreted transform/
    // concat_ws chain was this query's wall)
    val w = words(col(textCol))
    // localCheckpoint the map-side-collapsed (doc, shingle, tf) grain:
    // it feeds THREE consumers (norms, df counts, posting lists) that
    // prune different columns, so ReusedExchange never fires and the
    // shingle explode + combine ran three times (r17, the
    // Rollups.correlate pattern — guide §5 repeated subtrees)
    val tf = df
      .filter(size(w) >= 3)
      .select(col(idCol).as("id"),
        explode(graft.functions.NativeText.wordShinglesAll(col(textCol), 3))
          .as("word"))
      .groupBy("id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val nrm = tf.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
    val pairs = PairForms
      .postingPairs(tf, Seq("word"), struct(col("id"), col("tf")),
        "lexcos_df", maxDf, "max_word_df")
      .groupBy(col("a.id").as("idA"), col("b.id").as("idB"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    pairs
      .join(nrm.select(col("id").as("idA"), col("n2").as("__na")), Seq("idA"))
      .join(nrm.select(col("id").as("idB"), col("n2").as("__nb")), Seq("idB"))
      .withColumn("cos", round(col("dot").cast("double") /
        sqrt(col("__na").cast("double") * col("__nb").cast("double")), 4))
      .filter(col("cos") >= minCos)
      .select(col("idA"), col("idB"), col("dot"), col("cos"))
  }

  /** Bigram-LM document scoring with Laplace smoothing — the
    * conditional upgrade of [[unigramLm]]: mean surprisal of
    * P(wᵢ | wᵢ₋₁) = (c(wᵢ₋₁,wᵢ)+1) / (c(wᵢ₋₁·)+V), the model BPE-era
    * quality filters actually train (fluency is conditional; a bag of
    * frequent words scores well on unigrams but poorly here).
    *
    * Scale design mirrors [[unigramLm]] with the word key widened to
    * the pair key: adjacent pairs are built IN-ROW (zip of two array
    * slices — the corpus is never window-sorted), collapse map-side to
    * (doc, pair) grain, and the pair-count / context-count tables
    * derive from that same grain so ReuseExchange shares the one
    * corpus-wide exchange. Both model joins run on the pair/context
    * key (AQE skew-join splits "of the" — never broadcast, any
    * vocabulary streams); V is a one-row broadcast. All counts exact
    * integers; floats only in the final ln()/division. Docs need ≥ 2
    * words to emit (a bigram model has nothing to say about fewer).
    *
    * Output: (idCol, n_pairs, nll).
    */
  def bigramLm(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // (doc, bigram) grain feeds the scoring join AND both model
    // tables, so the corpus is exploded three times (8 scans in the
    // r17 before-plan) — MEASURED and left alone: at sf0.1 min-of-6
    // every reuse device loses to the recompute (no cut 0.865 s,
    // eager localCheckpoint 1.305, lazy 1.617; persist() is
    // disallowed — CacheManager plan-matching leaks one bench rep's
    // cache into the next). The model tables are vocab-small and the
    // corpus explode is cheap relative to a materialization barrier.
    val tf = bigramCounts(df, textCol, Seq("p", "c"), "bg", "tf", col(idCol))
    val pc = tf.groupBy("p", "c").agg(sum("tf").as("pc"))
    val ctx = pc.groupBy("p").agg(sum("pc").as("ctx"))
    val vocab = broadcast(
      wordRows(df, Nil, textCol, "word").agg(count_distinct(col("word")).as("v")))
    meanSurprisal(tf.join(pc, Seq("p", "c")).join(ctx, Seq("p")).join(vocab),
      Seq(idCol), "n_pairs", d(col("pc") + 1) / d(col("ctx") + col("v")))
  }

  /** [[knBigramLm]]'s absolute discount D (q401's oracle spells the
    * same 0.75).
    */
  private val KnDiscount = 0.75

  /** Interpolated Kneser–Ney bigram LM scoring (G120, Kneser & Ney
    * 1995 / Chen & Goodman 1998's recommended smoothing) — the top
    * rung of the LM-quality ladder (G20 unigram, G47 Laplace bigram,
    * G47b stupid backoff): absolute discounting with the CONTINUATION
    * back-off, P(c|p) = max(n(p,c)−D,0)/n(p) + λ(p)·P_cont(c), where
    * P_cont(c) = N1+(·c)/T counts how many DISTINCT contexts c
    * follows — the fix for "Francisco": frequent but only ever after
    * "San", so its unigram weight is high while its continuation
    * weight is tiny. The standard scoring model of the CCNet/Wenzek
    * quality-filter family.
    *
    * Determinism: D = 0.75 is exactly representable (3/4) and all
    * other inputs are exact integer counts (bigram tokens, context
    * tokens, distinct-continuation and distinct-context type counts,
    * total bigram types), so each probability is ONE pinned double
    * expression; per-doc NLL follows the G47 contract (doc-local
    * sums, 4dp at the final projection). Self-trained on the full
    * corpus, so every scored bigram is in the model — the discount
    * mass exercises λ, never an unseen branch.
    *
    * Scale shape: four vocabulary-grain count tables off ONE bigram
    * exchange (map-side combined), shuffle joins on gram keys, a
    * one-row broadcast type total.
    *
    * Output: (idCol, n_pairs, nll).
    */
  def knBigramLm(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = bigramCounts(df, textCol, Seq("p", "c"), "bg", "tf", col(idCol))
      .localCheckpoint() // feeds the model tables AND the scoring join
    val pc = tf.groupBy("p", "c").agg(sum("tf").as("pc"))
      .localCheckpoint() // feeds ctx/n1fwd/n1rev/types AND the join
    val ctx = pc.groupBy("p").agg(sum("pc").as("ctx"),
      count(lit(1)).as("n1fwd"))
    val n1rev = pc.groupBy("c").agg(count(lit(1)).as("n1rev"))
    val types = broadcast(pc.agg(count(lit(1)).as("tt")))
    val p = greatest(d(col("pc")) - KnDiscount, lit(0.0)) / col("ctx") +
      (lit(KnDiscount) * col("n1fwd") / col("ctx")) * (d(col("n1rev")) / col("tt"))
    meanSurprisal(
      tf.join(pc, Seq("p", "c")).join(ctx, Seq("p")).join(n1rev, Seq("c")).join(types),
      Seq(idCol), "n_pairs", p)
  }

  /** [[stupidBackoff]]'s back-off weight α, Brants et al.'s value
    * (q317's oracle spells the same 0.4).
    */
  private val BackoffAlpha = 0.4

  /** G47b stupid-backoff trigram LM scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation") — the rung of the
    * quality ladder above [[unigramLm]] (G20) and [[bigramLm]] (G47),
    * and the CCNet shape: counts train on a REFERENCE slice (`refPred`
    * — Wikipedia in CCNet, a lang slice here) and EVERY document is
    * scored against them, so out-of-slice text walks the backoff
    * chain. Per trigram position:
    *
    *   S(w₃|w₁w₂) = c₃(w₁w₂w₃)/c₂(w₁w₂)            seen trigram
    *              | α · (c₂(w₂w₃)/c₁(w₂))           seen bigram
    *              | α · (α · (max(c₁(w₃),1)/N))     unigram, floor 1
    *
    * with Brants' α = 0.4; the unseen-word floor of 1 keeps the log
    * finite (no smoothing elsewhere — stupid backoff's whole point is
    * that raw relative frequencies suffice at corpus scale).
    *
    * Scale shape: the three count tables are integer-exact,
    * vocabulary-grain aggregates (map-side combine on the gram key);
    * scoring LEFT-joins the (doc, trigram, tf) table to them on gram
    * keys — shuffle joins that stream any vocabulary, AQE splitting
    * the "of the" heads — plus a one-row broadcast N. Parenthesization
    * of the α products is pinned (both engines multiply in the same
    * order); doubles appear only in the final ln, rounded 4dp at the
    * last projection (the q141 contract). Docs need ≥ 3 words.
    *
    * Output: (idCol, n_tris, nll).
    */
  def stupidBackoff(
      df: DataFrame,
      refPred: Column,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def tris(src: DataFrame, keep: Column*): DataFrame =
      ngrams(src, textCol, Seq("a", "b", "c"), "__t", keep: _*)
        .select(keep ++ Seq(col("__t.a").as("a"), col("__t.b").as("b"),
          col("__t.c").as("c")): _*)
    val ref = df.filter(refPred)
    val uni = termCounts(ref, Nil, textCol, "w1", "c1")
    val nTot = broadcast(uni.agg(sum("c1").cast("long").as("n_tot")))
    val bi = bigramCounts(ref, textCol, Seq("a", "b"), "__b", "c2")
    val tri = tris(ref)
      .groupBy("a", "b", "c").agg(count(lit(1)).as("c3"))
    val docTri = tris(df, col(idCol))
      .groupBy(col(idCol), col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("tf"))
    val s =
      when(col("c3").isNotNull, d(col("c3")) / d(col("c2ab")))
        .when(col("c2bc").isNotNull,
          lit(BackoffAlpha) * (d(col("c2bc")) / d(col("c1b"))))
        .otherwise(lit(BackoffAlpha) * (lit(BackoffAlpha) *
          (d(greatest(coalesce(col("c1c"), lit(0L)), lit(1L))) / d(col("n_tot")))))
    val scored = docTri
      .join(tri, Seq("a", "b", "c"), "left")
      .join(bi.select(col("a"), col("b"), col("c2").as("c2ab")),
        Seq("a", "b"), "left")
      .join(bi.select(col("a").as("b"), col("b").as("c"), col("c2").as("c2bc")),
        Seq("b", "c"), "left")
      .join(uni.select(col("w1").as("b"), col("c1").as("c1b")), Seq("b"), "left")
      .join(uni.select(col("w1").as("c"), col("c1").as("c1c")), Seq("c"), "left")
      .join(nTot)
    meanSurprisal(scored, Seq(idCol), "n_tris", s)
  }

  /** Per-document TF-IDF keyword extraction: the top-k most
    * distinctive terms of every document (tf × ln(N/df)), the standard
    * relevance/keyword primitive of search and curation pipelines.
    *
    * Scale design: same two keyed aggregations as [[unigramLm]] —
    * term counts collapse map-side, the document-frequency table stays
    * on the word key (shuffle join, never broadcast, so any vocabulary
    * size streams), and the corpus doc count is a one-row broadcast.
    * The final top-k is a per-document window over at most
    * distinct-words-per-doc rows. Ties by word ascending.
    *
    * Output: (idCol, word, rank, tfidf).
    */
  def tfidfTopK(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3): DataFrame = {
    val tf = termCounts(df, Seq(col(idCol)), textCol, "word", "tf")
    // document frequency via partial aggregation on the word key —
    // same Zipf argument as [[unigramLm]]: a word-partitioned window
    // puts ~the whole corpus in the "the" partition, one task, no
    // map-side combine. tf has one row per (doc, word), so counting
    // its rows per word IS df; deriving from `tf` shares the
    // (doc, word) exchange via ReuseExchange (single corpus scan).
    // The tf > 0 guard is vacuous (a count of ≥1 rows) but unprovable
    // to the optimizer: a bare count(1) would let it prune the tf
    // count from this branch's aggregate, making the two exchanges
    // canonically different and breaking the reuse.
    val dfreq = tf.groupBy("word")
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
    val nDocs = broadcast(df.agg(count(lit(1)).as("n_docs")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, "word")
      .join(nDocs)
      .withColumn("tfidf",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("word"), col("rank"),
        round(col("tfidf"), 4).as("tfidf"))
  }

  /** BM25 retrieval ranking (Robertson–Spärck Jones; the Lucene
    * `1 + (N − df + 0.5)/(df + 0.5)` idf variant, always positive)
    * of every document against a fixed query-term set: the standard
    * "find the best training examples for a probe query" ranker.
    *
    * Scale shape: per-doc term frequencies and length are computed
    * IN-ROW (`size(filter(words))` per query term — query sets are
    * small, so q columns beat an explode of the whole corpus); corpus
    * statistics (N, Σdl, per-term df) collapse to ONE row in a single
    * map-side-combined aggregate that is broadcast back, so the plan
    * is two narrow scans + a TakeOrdered — zero wide shuffles, no
    * inverted index to build or skew to manage. Doubles appear only
    * per-row (never aggregated), so results are engine-portable.
    *
    * Output: (idCol, bm25) — top-k by rounded score desc, id asc.
    */
  def bm25(
      df: DataFrame,
      queryTerms: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text",
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 15): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 requires at least one query term")
    val w = words(col(textCol))
    val withTf = df.select(
      col(idCol) +: size(w).cast("long").as("__dl") +:
        queryTerms.indices.map { i =>
          size(filter(w, x => x === lit(queryTerms(i)))).cast("long").as(s"__tf$i")
        }: _*)
    val aggs = Seq(sum(col("__dl")).cast("long").as("__tdl")) ++
      queryTerms.indices.map(i =>
        count(when(col(s"__tf$i") > 0, lit(1))).as(s"__df$i"))
    val stats = broadcast(
      withTf.agg(count(lit(1)).as("__nd"), aggs: _*))
    val nd = col("__nd").cast("double")
    val avgdl = col("__tdl").cast("double") / nd
    val score = queryTerms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val dfT = col(s"__df$i").cast("double")
      val idf = log(lit(1.0) + (nd - dfT + 0.5) / (dfT + 0.5))
      when(col(s"__tf$i") > 0,
        idf * tf * (k1 + 1.0) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / avgdl)))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    withTf.join(stats)
      .select(col(idCol), round(score, 4).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** PMI collocation extraction: the top-k adjacent word pairs by
    * pointwise mutual information, ln(P(ab) / (P(a)·P(b))) — the
    * classic multi-word-expression detector (Church & Hanks 1990);
    * high-PMI pairs ("los angeles") co-occur far above chance while
    * frequent-but-independent pairs ("of the") score ≈ 0.
    *
    * Scale shape: bigram and unigram tables collapse map-side on
    * their keys (same in-row pair construction as [[bigramLm]], the
    * corpus is never window-sorted); the `minCount` support filter
    * prunes the pair table BEFORE the two word-keyed probability
    * joins (rare-pair noise is also where PMI is statistically
    * meaningless, so the filter is both the classic practice and the
    * scale guard); totals are one-row broadcasts and the final top-k
    * is a TakeOrdered, never a global sort. Counts exact integers;
    * the single ln() runs once per surviving pair.
    *
    * Output: (p, c, n_ab, pmi) — ties broken by pair ascending.
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String = "text",
      k: Int = 20,
      minCount: Int = 5): DataFrame = {
    val w = words(col(textCol))
    val pairs = bigramCounts(df, textCol, Seq("p", "c"), "bg", "n_ab")
    // the unigram table joins in twice (left and right word of each
    // surviving pair) — measured and left alone (r17): the word
    // explode recompute beats any materialization at sf0.1 (no cut
    // 0.515 s vs eager cut 0.830/lazy 0.789), and persist() is
    // disallowed on query paths (CacheManager cross-rep reuse).
    val uni = termCounts(df, Nil, textCol, "word", "n_w")
    val totals = broadcast(df.agg(
      sum(size(w)).cast("long").as("tw"),
      sum(greatest(size(w) - 1, lit(0))).cast("long").as("tp")))
    pairs
      .filter(col("n_ab") >= minCount)
      .join(uni.select(col("word").as("p"), col("n_w").as("__na")), Seq("p"))
      .join(uni.select(col("word").as("c"), col("n_w").as("__nb")), Seq("c"))
      .join(totals)
      .select(col("p"), col("c"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("tw").cast("double")
            * col("tw").cast("double") /
          (col("tp").cast("double") * col("__na").cast("double")
            * col("__nb").cast("double"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("p"), col("c"))
      .limit(k)
  }

  /** First-iteration BPE pair statistics — the inner loop of BPE
    * tokenizer training: counts of adjacent character pairs across
    * the corpus, weighted by word frequency. Computed the way BPE
    * trainers actually do it: the corpus first collapses to a
    * (word, frequency) vocabulary (map-side-combined groupBy), and
    * pair explosion runs over DISTINCT words only — pair work scales
    * with vocabulary size, not corpus size. Top-k via TakeOrdered
    * (no global sort), ties by pair ascending.
    *
    * Output: (pair, n), the k most frequent adjacent pairs.
    */
  def bpePairCounts(df: DataFrame, textCol: String = "text",
      k: Int = 20): DataFrame = {
    val wordFreq = termCounts(df, Nil, textCol, "word", "wf")
      .filter(length(col("word")) >= 2)
    wordFreq
      .select(col("wf"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("wf").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** PII patterns, applied in order. Deliberately RE2-compatible
    * (no backrefs/lookahead) so any oracle engine redacts
    * identically; ASCII classes only. Email first: its local part
    * can contain digit runs a later phone pattern would misread.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\b[0-9]{3}-([0-9]{3}-)?[0-9]{4}\\b", "<PHONE>"))

  /** PII detection + redaction: per-class span counts and the fully
    * redacted text. Counts are taken on the progressively-redacted
    * text (in [[PiiPatterns]] order) so a span never counts under two
    * classes. Pure regexp projections — codegen'd, zero shuffle, the
    * 100 TB shape is a map-only pass over the corpus.
    *
    * Adds: n_email, n_ip, n_phone, redacted.
    */
  def piiRedact(df: DataFrame, textCol: String = "text"): DataFrame =
    PiiPatterns.foldLeft(df.withColumn("redacted", col(textCol))) {
      case (d, (name, pat, tag)) =>
        d.withColumn(s"n_$name",
            size(regexp_extract_all(col("redacted"), lit(pat), lit(0))))
          .withColumn("redacted",
            regexp_replace(col("redacted"), lit(pat), lit(tag)))
    }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): merge
    * several top-k rankings of the same id space into one consensus
    * ranking by Σ 1/(kConst + rank_i) — the standard way to combine a
    * lexical ranking (BM25) with a vector ranking (ANN cosine)
    * without score calibration.
    *
    * Scale contract: inputs must already be BOUNDED top-k lists (the
    * output of a TakeOrdered stage, ≤ thousands of rows) — the
    * per-list rank window then runs over k rows per list, never the
    * corpus, and the whole fuse is dim-table-sized. Ranks are
    * recomputed from (score desc, id asc) so the fusion is
    * deterministic regardless of input row order.
    *
    * Output: (idCol, rrf 6dp, n_lists) — top `topK` by fused score.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String = "doc_id",
      scoreCol: String = "score",
      kConst: Int = 60,
      topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col(scoreCol).cast("double").as("__s"),
        lit(i).as("__src"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("__src"))
      .orderBy(col("__s").desc, col(idCol))
    tagged
      .withColumn("__rank", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        round(sum(lit(1.0) / (col("__rank") + kConst)), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }

  /** Pairwise vocabulary overlap between corpus slices: Jaccard of the
    * DISTINCT token sets of every category pair — "how lexically
    * similar are my sources/languages/snapshots", the corpus-
    * comparison diagnostic behind mixture design.
    *
    * Scale shape: the (cat, token) vocabulary collapses via one
    * distinct exchange; the intersection sizes come from a token-keyed
    * self-join whose per-token pair expansion is bounded by
    * nCategories² (categories are a dimension, never the corpus), and
    * the category sizes broadcast back. Inclusion–exclusion turns
    * intersections into unions — all exact integers.
    *
    * Output: (cat_a, cat_b, n_common, jaccard 4dp), cat_a < cat_b.
    */
  def vocabularyOverlap(
      docs: DataFrame,
      catCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val vocab = docs.select(col(catCol).as("cat"),
        explode(array_distinct(words(col(textCol)))).as("tok"))
      .distinct()
    val sizes = vocab.groupBy("cat").agg(count(lit(1)).as("sz"))
    vocab.select(col("cat").as("cat_a"), col("tok"))
      .join(vocab.select(col("cat").as("cat_b"), col("tok")), "tok")
      .filter(col("cat_a") < col("cat_b"))
      .groupBy("cat_a", "cat_b").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("cat").as("cat_a"), col("sz").as("__sa"))), "cat_a")
      .join(broadcast(sizes.select(col("cat").as("cat_b"), col("sz").as("__sb"))), "cat_b")
      .select(col("cat_a"), col("cat_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("__sa") + col("__sb") - col("n_common")), 4).as("jaccard"))
  }

  /** Jensen–Shannon divergence between the unigram distributions of
    * every pair of corpus slices — the probabilistic counterpart of
    * [[vocabularyOverlap]] (0 = identical language, ln 2 = disjoint):
    * the domain-shift number behind mixture reweighting decisions.
    *
    * Decomposition that avoids any full-outer join: with p, q the
    * per-slice token probabilities, tokens present in only one slice
    * contribute exactly ½·ln2·(their probability mass), so
    * JS = ½[Σ_common p·ln(2p/(p+q)) + ln2·(1−Σ_common p)]
    *    + ½[Σ_common q·ln(2q/(p+q)) + ln2·(1−Σ_common q)]
    * needs only the INNER join on shared tokens plus the per-slice
    * totals (one-row broadcast). Same bounded self-join shape as G55:
    * per-token pair expansion ≤ nCategories², never the corpus.
    *
    * Output: (cat_a, cat_b, n_common, js 4dp), cat_a < cat_b.
    */
  def jsDivergence(
      docs: DataFrame,
      catCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val counts = termCounts(docs, Seq(col(catCol).as("cat")), textCol, "tok", "c")
    val totals = broadcast(counts.groupBy("cat").agg(sum(col("c")).as("t")))
    val withP = counts.join(totals, "cat")
      .select(col("cat"), col("tok"), (col("c").cast("double") / col("t")).as("p"))
    val ln2 = math.log(2.0)
    withP.select(col("cat").as("cat_a"), col("tok"), col("p"))
      .join(withP.select(col("cat").as("cat_b"), col("tok"), col("p").as("q")), "tok")
      .filter(col("cat_a") < col("cat_b"))
      .groupBy("cat_a", "cat_b")
      .agg(
        count(lit(1)).as("n_common"),
        sum(col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))).as("__s1"),
        sum(col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))).as("__s2"),
        sum(col("p")).as("__pm"),
        sum(col("q")).as("__qm"))
      .select(col("cat_a"), col("cat_b"), col("n_common"),
        round(
          (col("__s1") + lit(ln2) * (lit(1.0) - col("__pm"))) / 2 +
          (col("__s2") + lit(ln2) * (lit(1.0) - col("__qm"))) / 2, 4).as("js"))
  }

  /** Overlapping document chunking — the training/RAG preprocessor
    * that turns each document into fixed-size token windows with
    * `overlap` tokens of context carried between consecutive chunks:
    * chunk i covers words [i·stride, i·stride + chunkSize) with
    * stride = chunkSize − overlap, starts strictly inside the
    * document (last partial chunk kept, n_tokens = what remains).
    *
    * Scale shape: ZERO shuffles — word split, start generation
    * (`sequence`), and the per-chunk `slice` are all in-row codegen'd
    * expressions, so the 100 TB pass is map-only and the output
    * streams straight to the sink partitioned exactly like the input.
    * Expansion factor is bounded by construction at
    * ~n_words/stride per doc.
    *
    * Output: (idCol, chunk_idx, chunk_text, n_tokens).
    */
  def chunkDocuments(
      df: DataFrame,
      chunkSize: Int = 50,
      overlap: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val w = words(col(textCol))
    df.select(col(idCol), w.as("__w"), size(w).as("__n"))
      .select(col(idCol), col("__w"), col("__n"),
        explode(sequence(lit(0), greatest(col("__n") - 1, lit(0)), lit(stride)))
          .as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("__w"), col("__start") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("__n") - col("__start")).cast("int")
          .as("n_tokens"))
  }

  /** Zipf power-law fit of the per-group token frequency head — the
    * vocabulary-distribution diagnostic of corpus curation (natural
    * corpora track slope ≈ −1; templated or synthetic text bends the
    * head, mixture shifts move it). Fits ln(freq) ~ ln(rank) over the
    * top `maxRank` tokens with frequency ≥ `minFreq` via
    * [[Rollups.linearTrend]]'s exact-integer-sum machinery.
    *
    * Determinism: ranks come from a (freq DESC, token) ordering —
    * total, so engine-independent — and both logs are scaled to
    * integral micro-nats (round(ln·10⁶)) before the trend's
    * decimal-exact sums, the established intermediate-rounding
    * contract (cf. rfm/winsorize thresholds).
    *
    * Scale shape: token counts are one map-side-combined (group,
    * word) aggregate; the rank window runs per group over the
    * VOCABULARY (bounded — millions, not corpus-sized), and the trend
    * consumes ≤ maxRank rows per group with O(1) aggregate state.
    */
  def zipfFit(
      df: DataFrame,
      groupCol: String = "source",
      textCol: String = "text",
      maxRank: Int = 500,
      minFreq: Int = 2): DataFrame = {
    val vocab = termCounts(df, Seq(col(groupCol)), textCol, "word", "n")
    // loud scale guard (r11 carried item): the per-group rank window
    // sorts the whole per-group VOCABULARY in one task before the
    // maxRank cut — bounded for natural language, but a degenerate
    // tokenizer (e.g. unique-id "words") would single-task the corpus.
    // The raise rides the same row_number: one window, no extra sort,
    // and the filter's reference to `rank` forces evaluation on every
    // ranked row, so the over-cap row trips it before being cut.
    val cap = graft.GraftConf.ValueGrainCap
    val rw = Window.partitionBy(groupCol).orderBy(col("n").desc, col("word"))
    val ranked = vocab
      .withColumn("rank",
        when(row_number().over(rw) > cap,
          raise_error(lit(s"graft.zipfFit: per-group vocabulary grain " +
            s"exceeds ValueGrainCap=$cap — prune the vocabulary (minFreq) " +
            "upstream"))).otherwise(row_number().over(rw)))
      .filter(col("rank") <= maxRank && col("n") >= minFreq)
      .withColumn("x", round(log(col("rank")) * 1e6).cast("long"))
      .withColumn("y", round(log(col("n")) * 1e6).cast("long"))
    Rollups.linearTrend(ranked, Seq(groupCol), "x", "y")
      .withColumnRenamed("slope", "zipf_slope")
      .select(col(groupCol), col("n_points"), col("zipf_slope"), col("r2"))
  }

  /** Deterministic vocabulary build — the id-assignment step of a
    * tokenizer/embedding-table pipeline: rank the corpus vocabulary
    * by (frequency desc, token asc), assign contiguous integer ids in
    * that order, and report each kept token's cumulative corpus
    * coverage (what fraction of all token occurrences the vocabulary
    * up to this id explains — the curve that sizes a vocab).
    *
    * Scale shape: the corpus is touched ONCE (map-side-combined token
    * counts — G18's shape); the top-`vocabSize` slice comes from a
    * TakeOrdered heap, never a global vocabulary sort; the id and
    * cumulative-coverage windows then run over the KEPT slice only
    * (vocabSize rows, one partition). The corpus token total is a
    * one-row aggregate broadcast into the final projection. Counts
    * stay exact longs; coverage is the only division, rounded 6dp.
    * (freq desc, token asc) is a total order, so ids are stable
    * across partitionings and engines.
    *
    * Output: (token_id, token, n, coverage) — token_id from 0.
    */
  def vocabBuild(
      df: DataFrame,
      textCol: String = "text",
      vocabSize: Int = 500): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    // loud scale guard (r11 carried item): the id/coverage windows run
    // single-partition over the KEPT slice, so the bound is vocabSize
    // itself — enforce the documented cap instead of trusting callers
    require(vocabSize <= graft.GraftConf.ValueGrainCap,
      s"graft.vocabBuild: vocabSize=$vocabSize exceeds ValueGrainCap=" +
        s"${graft.GraftConf.ValueGrainCap} — the kept slice is windowed " +
        "in one partition; shard the vocabulary build instead")
    // vocab-grain counts feed both the slice and the one-row total;
    // the eager cut keeps the corpus at ONE scan
    val freq = termCounts(df, Nil, textCol, "token", "n")
      .localCheckpoint()
    val total = freq.agg(sum(col("n")).as("__total"))
    val ord = Window.orderBy(col("n").desc, col("token"))
    freq
      .orderBy(col("n").desc, col("token")).limit(vocabSize)
      .withColumn("token_id", (row_number().over(ord) - 1).cast("long"))
      .withColumn("__cum",
        sum(col("n")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .withColumn("coverage",
        round(col("__cum").cast("double") / col("__total"), 6))
      .select(col("token_id"), col("token"), col("n"), col("coverage"))
  }

  /** Distinct-n n-gram diversity per corpus slice — the standard
    * generation-diversity / repetitiveness report (distinct-1/2/3 of
    * Li et al. 2016), here over corpus slices: the fraction of n-gram
    * OCCURRENCES that are distinct n-grams. A slice whose distinct-3
    * collapses is template spam even when exact/near dedup passes
    * (complements G14's intra-doc repetition with a cross-doc view).
    *
    * Scale shape: ONE corpus scan builds every n's shingles in-row
    * ([[graft.functions.NgramMd5Structs]] — one native JVM pass per
    * doc; the interpreted HOF chain was the q294 wall) and reduces
    * each to md5 BEFORE the exchange (the engine's
    * hash-only-shuffle contract — gram text never rides a shuffle);
    * occurrence counts map-side combine at (slice, n, hash) grain,
    * then roll up to (slice, n). Exact distinct via the two-level
    * aggregate, not count(distinct) — no Expand, no re-scan per n.
    * md5 is computed identically by the oracle engine, so collision
    * behavior (negligible at 2⁻¹²⁸) is shared, not approximated; the
    * digest rides the exchange as 16 raw bytes (unhex), not the
    * 32-char hex string — half the shuffled key bytes, same
    * cardinality (unhex is injective).
    *
    * Output: (groupCol, n, total_ngrams, distinct_ngrams,
    * distinct_ratio 6dp), one row per slice × n.
    */
  def ngramDiversity(
      df: DataFrame,
      groupCol: String = "source",
      textCol: String = "text",
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")
    val grams = df
      .filter(length(col(textCol)) > 0)
      .select(col(groupCol).as("__g"),
        explode(graft.functions.NativeText.ngramMd5s(col(textCol), ns)).as("__p"))
      .select(col("__g"), col("__p.n").as("n"), col("__p.h").as("__h"))
    grams
      .groupBy("__g", "n", "__h").agg(count(lit(1)).as("__c"))
      .groupBy("__g", "n")
      .agg(sum("__c").as("total_ngrams"), count(lit(1)).as("distinct_ngrams"))
      .select(col("__g").as(groupCol), col("n"),
        col("total_ngrams"), col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6)
          .as("distinct_ratio"))
  }

  /** G93b sketched distinct-n diversity — the HLL register-file
    * variant of [[ngramDiversity]]. The exact variant's exchange is
    * (slice, n, gram-hash)-grain: at 100 TB that is the engine's
    * largest shuffle per input byte (every 1/2/3-gram of the corpus
    * crosses the wire once, even md5-reduced). Here the ONLY exchange
    * is (slice, n)-grain: each map task folds its grams into a 4 KB
    * register file ([[graft.functions.HllSketch]], partial-merge
    * aggregate) plus a long count, so the shuffle carries a few KB per
    * (slice, n) group per task regardless of corpus size.
    *
    * Estimates follow the sketch's md5 register contract, so an
    * external oracle replays the identical doubles (register max +
    * exact-integer harmonic sum — bit-reproducible). The ratio is
    * computed from the unrounded estimate and rounded only at the
    * final projection, both sides.
    */
  def ngramDiversityApprox(
      df: DataFrame,
      groupCol: String = "source",
      textCol: String = "text",
      ns: Seq[Int] = Seq(1, 2, 3),
      p: Int = 12): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")
    val grams = df
      .filter(length(col(textCol)) > 0)
      .select(col(groupCol).as("__g"),
        explode(graft.functions.NativeText.ngramMd5s(col(textCol), ns)).as("__p"))
      .select(col("__g"), col("__p.n").as("n"), col("__p.h").as("__h"))
    grams
      .groupBy("__g", "n")
      .agg(count(lit(1)).as("total_ngrams"),
        graft.functions.HllSketch.hllDistinctHashed(col("__h"), p).as("__est"))
      .select(col("__g").as(groupCol), col("n"), col("total_ngrams"),
        round(col("__est"), 4).as("approx_distinct"),
        round(col("__est") / col("total_ngrams"), 6).as("approx_ratio"))
  }

  /** Encoding-anomaly (mojibake) detection per slice (G115) — the
    * ingest screen for the three classic corruption signatures a web
    * crawl drags in:
    *   - U+FFFD replacement characters (a decoder already gave up),
    *   - CP1252-mangled UTF-8 (é read as Ã©, ' as â€™ — the
    *     double-encoding artifact: lead bytes C3/E2 surfacing as
    *     codepoints Ã / â€-prefixed runs),
    *   - C1 control characters U+0080–U+009F (valid in no sane text;
    *     the tell of a Latin-1/CP1252 byte stream mislabeled UTF-8).
    * Feeding mojibake to a tokenizer silently fragments it into rare
    * tokens — this is the G8/G13-family gate that keeps it out.
    *
    * Determinism: all three patterns are RE2-compatible codepoint
    * classes written with \x{...} escapes — byte-identical pattern
    * strings on any engine — counted with group-0
    * regexp_extract_all; counts are exact integers.
    *
    * Scale shape: one corpus scan, three in-row regex counts, one
    * slice-grain combine. Nothing but counters rides the exchange.
    *
    * Output: one row per slice (sliceCol, n_docs, n_flagged,
    * repl_chars, mangled_seqs, c1_chars, flag_rate 4dp).
    */
  def encodingAnomalies(
      df: DataFrame,
      textCol: String = "text",
      sliceCol: String = "source"): DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long")
    val repl = cnt("\\x{FFFD}")
    val mangled = cnt("\\x{00C3}[\\x{0080}-\\x{00BF}]|\\x{00E2}\\x{20AC}.")
    val c1 = cnt("[\\x{0080}-\\x{009F}]")
    df.select(col(sliceCol), repl.as("__r"), mangled.as("__m"), c1.as("__c"))
      .groupBy(sliceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__r") + col("__m") + col("__c") > 0, 1L).otherwise(0L))
          .as("n_flagged"),
        sum("__r").as("repl_chars"),
        sum("__m").as("mangled_seqs"),
        sum("__c").as("c1_chars"))
      .withColumn("flag_rate",
        round(d(col("n_flagged")) / col("n_docs"), 4))
  }

  /** Tokenizer fertility per slice (G116) — tokens-per-word and
    * chars-per-token of a TRAINED tokenizer (G86's BPE), split by a
    * slice column (language): THE number that decides whether a
    * tokenizer taxes a language — fertility 2× on one slice means
    * that slice pays twice the sequence length (and twice the
    * compute) for the same text, the standard multilingual-tokenizer
    * audit (Rust et al. 2021).
    *
    * Exactness: token counts are G86's exact sequential-replay
    * encoder counts; word counts are non-empty single-space splits
    * (both engines keep the empty segments that leading, doubled or
    * trailing spaces leave, and the filter drops them on both sides);
    * the two ratios are single divisions of exact longs.
    *
    * Output: one row per slice (sliceCol, n_docs, n_words, n_tokens,
    * n_chars, fertility 4dp, chars_per_token 4dp).
    */
  def tokenizerFertility(
      encoded: DataFrame,
      docs: DataFrame,
      sliceCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val nWords = size(filter(split(col(textCol), " "), w => w =!= ""))
      .cast("long")
    docs.select(col(idCol), col(sliceCol), nWords.as("__w"),
        length(col(textCol)).cast("long").as("__ch"))
      .join(encoded.select(col(idCol), col("n_bpe_tokens")), Seq(idCol))
      .groupBy(sliceCol)
      .agg(count(lit(1)).as("n_docs"), sum("__w").as("n_words"),
        sum("n_bpe_tokens").as("n_tokens"), sum("__ch").as("n_chars"))
      .select(col(sliceCol), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        round(d(col("n_tokens")) / col("n_words"), 4).as("fertility"),
        round(d(col("n_chars")) / col("n_tokens"), 4).as("chars_per_token"))
  }
}
