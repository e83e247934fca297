package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks. All are composed from Spark's built-in
  * (whole-stage-codegen'd) functions — no UDFs in the hot path.
  */
package object functions {

  /** Harmonic-sum association score: Σ_{i=1..K} top_i / i², normalized.
    *
    * Semantics follow the reference's harmonic scoring
    * (/root/reference/timeseries.py:480–510): nulls/NaNs are dropped,
    * scores sorted descending, top-K kept, each divided by its 1-based
    * rank squared, summed, divided by `maxScore`. An empty score set
    * yields NULL (no evidence accumulated ⇒ score undefined).
    */
  def harmonicScore(
      scores: Column,
      topK: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): Column =
    NativeText.harmonic(scores, topK, maxScore)

  /** Higher-order-function formulation of [[harmonicScore]] — kept as
    * the executable spec the native expression is tested against.
    */
  def harmonicScoreHof(
      scores: Column,
      topK: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): Column = {
    val clean = filter(scores, s => s.isNotNull && !isnan(s))
    val top = slice(reverse(array_sort(clean)), 1, topK)
    val weighted = zip_with(
      top,
      sequence(lit(1), size(top)),
      (s, i) => s / (i * i))
    val hs = aggregate(weighted, lit(0.0), (acc, x) => acc + x) / maxScore
    when(size(clean) === 0, lit(null).cast("double")).otherwise(hs)
  }

  /** Year extraction from an ISO 'YYYY-MM-DD…' date STRING — the
    * reference's single most common dating idiom
    * (/root/reference/timestamp_evidence.py:218–246:
    * `split(col, '-').getItem(0).cast(int)`, used by
    * gwas_credible_sets and chembl dating). Malformed / empty / null
    * strings yield NULL via try_cast (ANSI-safe); codegen'd built-ins
    * only.
    */
  def yearFromDateString(date: Column): Column =
    element_at(split(date, "-"), 1).try_cast("int")

  /** Rolling min-hash content fingerprint (Rabin–Karp over UTF-8
    * bytes); see [[RollingMinHash]]. NULL for text shorter than `w`.
    */
  def rollingMinHash(text: Column, w: Int = 16): Column =
    org.apache.spark.sql.graftshim.columnOf(
      RollingMinHash(org.apache.spark.sql.graftshim.expressionOf(text), w))

  /** Logistic decay used for novelty: peak / (1 + e^{scale·(Δ − shift)}).
    * Reference: /root/reference/timeseries.py:608–617.
    */
  def logisticNovelty(
      peak: Column,
      yearDelta: Column,
      scale: Double = GraftConf.NoveltyScale,
      shift: Double = GraftConf.NoveltyShift): Column =
    peak / (lit(1.0) + exp(lit(scale) * (yearDelta - lit(shift))))

  /** Exact, engine-portable dot product of ×1000-quantized embeddings.
    * Quantizing to Long makes the sum order-independent (integer math),
    * so Spark and any oracle engine agree bit-for-bit.
    */
  def quantize(vec: Column, q: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * q).cast("long"))

  def quantizedDot(a: Column, b: Column): Column =
    NativeText.longDot(a, b)

  /** HOF formulation of [[quantizedDot]] — the executable spec the
    * native expression is tested against.
    */
  def quantizedDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Two-sided Pearson-correlation p-value (Student-t tail, df = n−2)
    * from the closed-form integer-df t-CDF; see [[PearsonTwoSidedP]].
    * Feed it the PUBLISHED (rounded) r so every engine derives the
    * identical p from the identical inputs.
    */
  def pearsonP(r: Column, n: Column): Column =
    org.apache.spark.sql.graftshim.columnOf(
      PearsonTwoSidedP(
        org.apache.spark.sql.graftshim.expressionOf(r.cast("double")),
        org.apache.spark.sql.graftshim.expressionOf(n.cast("long"))))

  /** Jaro–Winkler string similarity (DuckDB-identical semantics);
    * see [[JaroWinkler]].
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.columnOf(
      JaroWinkler(
        org.apache.spark.sql.graftshim.expressionOf(a),
        org.apache.spark.sql.graftshim.expressionOf(b)))

  /** Unicode NFC canonical normalization (DuckDB `nfc_normalize`
    * semantics); see [[NfcNormalize]].
    */
  def nfcNormalize(s: Column): Column =
    org.apache.spark.sql.graftshim.columnOf(
      NfcNormalize(org.apache.spark.sql.graftshim.expressionOf(s)))

  /** Web-corpus URL canonicalization (SQL-replayable rules); see
    * [[CanonicalUrl]]. Null for inputs with no `scheme://` prefix.
    */
  def canonicalUrl(s: Column): Column =
    org.apache.spark.sql.graftshim.columnOf(
      CanonicalUrl(org.apache.spark.sql.graftshim.expressionOf(s)))

  /** L2 norm of a quantized vector: the IEEE sqrt of its exact
    * integer self-dot (deterministic double).
    */
  def quantizedNorm(v: Column): Column =
    sqrt(quantizedDot(v, v).cast("double"))

  /** Cosine similarity of quantized vectors `a` and `b` over their
    * precomputed [[quantizedNorm]]s `na` and `nb`: the exact integer
    * dot, then one IEEE divide (deterministic double). A zero norm
    * has no cosine; ANSI mode fails the divide, so callers drop zero
    * vectors first.
    */
  def quantizedCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    quantizedDot(a, b).cast("double") / (na * nb)

  /** Int8 scalar quantization with a per-vector scale: q_i =
    * round(x_i · 127 / max|x|) ∈ [−127, 127] — the compressed-index
    * representation ANN systems store (4× smaller than f32; 8× smaller
    * than the ×1000 longs). The per-vector scale cancels in cosine, so
    * search over int8 codes needs no dequantization. Every step
    * (float→double widen, ×, ÷, round-half-up) is IEEE-exact and
    * engine-portable; an all-zero vector quantizes to all zeros.
    */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    transform(vec, x =>
      when(mx === 0d, 0L)
        .otherwise(round(x.cast("double") * 127.0 / mx).cast("long")))
  }
}
