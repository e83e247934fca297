package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hot paths.
  *
  * The higher-order-function formulations (transform/aggregate lambdas)
  * are interpreted element-by-element — fine at dimension-table sizes,
  * but word-shingling and MinHash signatures sit on the corpus-scale
  * path where per-element interpretation overhead dominates. These
  * expressions do the same work in one JVM pass per row and reproduce
  * the HOF/oracle semantics bit-for-bit:
  *
  *  - split on single spaces keeping empty tokens (like
  *    `split(text, " ")` / DuckDB `string_split`),
  *  - shingle = tokens joined by one space (like `concat_ws`),
  *  - minhash element j = min over shingles of md5 hex of "j:shingle"
  *    (UTF-8), minimum by unsigned-byte order — identical to
  *    lexicographic order on the lowercase hex strings.
  */
private[graft] object NativeText {

  /** Distinct word n-gram shingles, first-occurrence order (matches
    * `array_distinct` over the ordered shingle list). NULL text → NULL;
    * fewer than n words → empty array.
    */
  def wordShingles(text: Column, n: Int): Column =
    columnOf(WordShinglesDistinct(expressionOf(text), n))

  /** MinHash signature over a shingle array: k md5-derived minima.
    * NULL or empty input → NULL (row drops out of LSH banding).
    */
  def minhashSig(shingles: Column, k: Int): Column =
    columnOf(MinHashSignature(expressionOf(shingles), k))

  /** Content-defined chunk bounds; see [[CdcChunkBounds]]. */
  def cdcChunkBounds(text: Column, w: Int, mask: Int): Column =
    columnOf(CdcChunkBounds(expressionOf(text), w, mask))

  /** Overlapping 3-code-point slices; see [[CharTrigrams]]. */
  def charTrigrams(text: Column): Column =
    columnOf(CharTrigrams(expressionOf(text)))

  /** Native harmonic-sum score; see [[HarmonicScore]]. */
  def harmonic(scores: Column, k: Int, maxScore: Double): Column =
    columnOf(HarmonicScore(expressionOf(scores), k, maxScore))

  /** All word n-grams for every n in `ns`, md5-reduced in one pass;
    * see [[NgramMd5Structs]].
    */
  def ngramMd5s(text: Column, ns: Seq[Int]): Column =
    columnOf(NgramMd5Structs(expressionOf(text), ns))

  /** All word n-grams, duplicates kept in position order; see
    * [[WordShinglesAll]].
    */
  def wordShinglesAll(text: Column, n: Int): Column =
    columnOf(WordShinglesAll(expressionOf(text), n))

  /** Native long-array dot product; see [[LongDot]]. */
  def longDot(a: Column, b: Column): Column =
    columnOf(LongDot(expressionOf(a), expressionOf(b)))

  private[graft] def splitWords(text: UTF8String): Array[UTF8String] = {
    // 0x20 is never part of a multi-byte UTF-8 sequence, so a byte scan
    // is a correct split; empties are kept like split(text, " ").
    val bytes = text.getBytes
    var parts = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') parts += 1; i += 1 }
    val out = new Array[UTF8String](parts)
    var start = 0
    var p = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') {
        out(p) = UTF8String.fromBytes(bytes, start, i - start)
        p += 1
        start = i + 1
      }
      i += 1
    }
    out(p) = UTF8String.fromBytes(bytes, start, bytes.length - start)
    out
  }
}

/** `harmonic_score(scores, k, maxScore)`: drop nulls/NaNs, sort
  * descending, Σ top-K sᵢ/i² (1-based), divide by maxScore; empty →
  * NULL. Scoring semantics follow the reference's harmonic association
  * sum (/root/reference/timeseries.py:480–510). Summation runs in descending-score order exactly like the
  * `aggregate(slice(reverse(array_sort(...))))` HOF chain it replaces,
  * so results are bit-identical. Codegen emits a static call, keeping
  * the surrounding whole-stage pipeline compiled.
  */
case class HarmonicScore(child: Expression, k: Int, maxScore: Double)
    extends UnaryExpression {

  HarmonicScore.requireTopK(k)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "harmonic_score"

  override protected def nullSafeEval(input: Any): Any =
    HarmonicScore.evalStatic(input.asInstanceOf[ArrayData], k, maxScore)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("harmonic")
      s"""
         |java.lang.Double $r = graft.functions.HarmonicScore.evalStatic($c, $k, $maxScore);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HarmonicScore =
    copy(child = newChild)
}

object HarmonicScore {
  def evalStatic(arr: ArrayData, k: Int, maxScore: Double): java.lang.Double = {
    val n = arr.numElements()
    val clean = new Array[Double](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getDouble(i)
        if (!java.lang.Double.isNaN(v)) { clean(m) = v; m += 1 }
      }
      i += 1
    }
    if (m == 0) return null
    java.util.Arrays.sort(clean, 0, m)
    java.lang.Double.valueOf(fold(clean, m, math.min(k, m), maxScore))
  }

  /** The one harmonic fold, shared with [[TopKBuffer.harmonic]]:
    * Σ sᵢ/i² (1-based rank) over the `top` largest of `asc(0 until m)`
    * (sorted ascending), summed from the largest down, over maxScore.
    */
  def fold(asc: Array[Double], m: Int, top: Int, maxScore: Double): Double = {
    var sum = 0.0
    var i = 0
    while (i < top) {
      val rank = i + 1
      sum += asc(m - 1 - i) / (rank.toDouble * rank)
      i += 1
    }
    sum / maxScore
  }

  /** The k check of every top-K entry point. */
  def requireTopK(k: Int): Unit = require(k >= 1, s"topK must be >= 1, got $k")
}

/** `long_dot(a, b)`: dot product of two long arrays — the ANN scoring
  * kernel over quantized embeddings. A tight JVM loop the JIT can
  * unroll/vectorize, vs one interpreted lambda frame per dimension in
  * the `aggregate(zip_with(...))` formulation. Integer math: exact and
  * order-independent, same value as the HOF version. Mismatched
  * lengths dot the common prefix (zip_with semantics).
  */
case class LongDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongDot.evalStatic(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LongDot.evalStatic($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

object LongDot {
  def evalStatic(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += a.getLong(i) * b.getLong(i)
      i += 1
    }
    sum
  }
}

/** `nfc_normalize(s)`: Unicode NFC canonical normalization — the text
  * canonicalization step UPSTREAM of exact/near dedup and
  * fingerprinting: decomposed "e"+U+0301 and precomposed U+00E9 are
  * the same text to a reader but different bytes to md5, so an
  * un-normalized corpus under-deduplicates (and contaminations hide).
  * Wraps java.text.Normalizer's canonical composition; DuckDB's
  * utf8proc-based `nfc_normalize` implements the same Unicode
  * algorithm, so results agree byte-for-byte on any valid UTF-8.
  * Fast path: the NFC quick-check (`isNormalized`) returns the input
  * UTF8String untouched for the overwhelmingly-common already-
  * composed row — no copy, no allocation.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.evalStatic(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.evalStatic($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def evalStatic(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** `wordShinglesDistinct(text, n)`: split text on single spaces, build
  * the n-gram shingles (tokens joined by " "), dedupe preserving first
  * occurrence. One pass, no per-element lambda interpretation.
  */
case class WordShinglesDistinct(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles_distinct"

  override protected def nullSafeEval(input: Any): Any =
    WordShinglesDistinct.evalStatic(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShinglesDistinct.evalStatic($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesDistinct =
    copy(child = newChild)
}

object WordShinglesDistinct {
  private val Space = UTF8String.fromString(" ")

  def evalStatic(text: UTF8String, n: Int): ArrayData = {
    val words = NativeText.splitWords(text)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]((words.length - n + 1) * 2)
    var i = 0
    while (i <= words.length - n) {
      var shingle = words(i)
      var j = 1
      while (j < n) {
        shingle = UTF8String.concat(shingle, Space, words(i + j))
        j += 1
      }
      seen.add(shingle)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }
}

/** `minhash_signature(shingles, k)`: element j (1-based) is the
  * minimum over the shingle set of md5("j:" + shingle) as lowercase
  * hex. Minima are selected on the raw digest bytes (unsigned order ==
  * hex lexicographic order); only the k winners are hex-encoded.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"signature length must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.evalStatic(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSignature.evalStatic($c, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  private val HexChars = "0123456789abcdef".getBytes

  def evalStatic(arr: ArrayData, k: Int): ArrayData = {
    val numShingles = arr.numElements()
    if (numShingles == 0) return null
    val md = MessageDigest.getInstance("MD5")
    val pref = prefixes(k)
    val mins = new Array[Array[Byte]](k)
    var i = 0
    while (i < numShingles) {
      val shingleBytes = arr.getUTF8String(i).getBytes
      var j = 0
      while (j < k) {
        md.reset()
        md.update(pref(j))
        md.update(shingleBytes)
        val digest = md.digest()
        if (mins(j) == null || unsignedLt(digest, mins(j))) mins(j) = digest
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = hex(mins(i)); i += 1 }
    new GenericArrayData(out)
  }

  private val prefixCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()

  /** ASCII bytes of "1:", "2:", … "k:". */
  private def prefixes(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k, kk => Array.tabulate(kk)(j => s"${j + 1}:".getBytes))

  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private def hex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      out(i * 2) = HexChars((digest(i) & 0xf0) >> 4)
      out(i * 2 + 1) = HexChars(digest(i) & 0x0f)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** `rolling_minhash(text, w)`: minimum over all `w`-byte windows of the
  * Rabin–Karp polynomial rolling hash (base 257, mod 1e9+7) of the
  * UTF-8 bytes — a shift-robust content fingerprint (two documents
  * sharing any w-byte run share candidate hashes, unlike whole-content
  * md5). One O(n) pass per row; text shorter than `w` → NULL.
  */
case class RollingMinHash(child: Expression, w: Int)
    extends UnaryExpression {

  require(w >= 1, s"window must be >= 1, got $w")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_minhash"

  override protected def nullSafeEval(input: Any): Any =
    RollingMinHash.evalStatic(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("rmh")
      s"""
         |java.lang.Long $r = graft.functions.RollingMinHash.evalStatic($c, $w);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

object RollingMinHash {
  val Mod = 1000000007L
  val Base = 257L

  def evalStatic(text: UTF8String, w: Int): java.lang.Long = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < w) return null
    var bw = 1L
    var i = 0
    while (i < w - 1) { bw = bw * Base % Mod; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = (h * Base + (bytes(i) & 0xff)) % Mod; i += 1 }
    var min = h
    var j = 1
    while (j + w <= n) {
      h = ((h - (bytes(j - 1) & 0xff) * bw % Mod + Mod) % Mod * Base
        + (bytes(j + w - 1) & 0xff)) % Mod
      if (h < min) min = h
      j += 1
    }
    java.lang.Long.valueOf(min)
  }
}

/** `pearson_p(r, n)`: two-sided p-value of a Pearson correlation `r`
  * over `n` samples — the Student-t tail with df = n−2 that
  * scipy.stats.pearsonr reports (the reference's analysis.ipynb cell 1
  * pairs every correlation with it).
  *
  * No special-function library: for INTEGER df the t-CDF has the
  * elementary closed forms of Abramowitz & Stegun 26.7.3/26.7.4, and
  * substituting t = r·√(df/(1−r²)) collapses the angle to
  * sinθ = |r|, cosθ = √(1−r²) — so the whole computation is a finite
  * O(df) recurrence in plain IEEE double arithmetic that an oracle
  * engine replays exactly (the q19/q86 DuckDB oracles mirror it as a
  * recursive CTE with the SAME left-associated op order per step).
  * Per-row cost is O(n), but the expression runs on correlation
  * SUMMARY rows (one per source pair), never on the evidence table.
  *
  * NULL r or n < 3 → NULL; |r| ≥ 1 → 0.
  */
case class PearsonTwoSidedP(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pearson_p"

  override protected def nullSafeEval(r: Any, n: Any): Any =
    PearsonTwoSidedP.evalStatic(r.asInstanceOf[Double], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, n) => {
      val p = ctx.freshName("pearsonP")
      s"""
         |java.lang.Double $p = graft.functions.PearsonTwoSidedP.evalStatic($r, $n);
         |if ($p == null) { ${ev.isNull} = true; } else { ${ev.value} = $p.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PearsonTwoSidedP =
    copy(left = newLeft, right = newRight)
}

object PearsonTwoSidedP {
  /** Mirrored step-for-step by the q19/q86 oracle CTEs — change BOTH
    * or the 4dp hashes drift.
    */
  def evalStatic(r: Double, n: Long): java.lang.Double = {
    val df = n - 2
    if (df < 1 || java.lang.Double.isNaN(r)) return null
    val rho = math.abs(r)
    if (rho >= 1.0) return java.lang.Double.valueOf(0.0)
    val c2 = 1.0 - rho * rho
    var a = 0.0
    if (df % 2 == 0) {
      // A&S 26.7.4: A = sinθ·Σ_{k<df/2} Π(2i−1)/(2i)·cos^{2k}θ
      val m = df / 2
      var t = 1.0
      var s = 1.0
      var k = 1L
      while (k <= m - 1) {
        t = t * c2 * (2 * k - 1) / (2 * k)
        s += t
        k += 1
      }
      a = rho * s
    } else {
      // A&S 26.7.3: A = (2/π)(θ + sinθ·Σ Π(2i)/(2i+1)·cos^{2k+1}θ)
      var u = math.sqrt(c2)
      var s = if (df >= 3) u else 0.0
      var k = 1L
      while (k <= (df - 3) / 2) {
        u = u * c2 * (2 * k) / (2 * k + 1)
        s += u
        k += 1
      }
      a = (2.0 / math.Pi) * (math.asin(rho) + rho * s)
    }
    java.lang.Double.valueOf(math.max(0.0, 1.0 - a))
  }
}

/** `jaro_winkler(a, b)`: Jaro–Winkler string similarity with the
  * standard constants — match window ⌊max(|a|,|b|)/2⌋−1 (floor 0),
  * transpositions = ⌊out-of-order matches / 2⌋, Winkler prefix boost
  * p=0.1 over the common prefix capped at 4, applied only when the
  * plain Jaro exceeds 0.7, and 0.0 when either side is empty or no
  * characters match. These are exactly DuckDB's
  * `jaro_winkler_similarity` semantics (fuzz-pinned in spec), so the
  * oracle can replay it verbatim. Entity-resolution scoring for G67's
  * blocked pairs where edit distance is too coarse.
  *
  * Chars compare as Unicode CODE POINTS (surrogate pairs count as
  * one character), matching DuckDB on astral text as well as BMP.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.evalStatic(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaroWinkler.evalStatic($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  def evalStatic(au: UTF8String, bu: UTF8String): Double = {
    // code-point arrays, not UTF-16 code units: DuckDB compares by
    // code point, and astral chars must count as ONE character
    val s = au.toString.codePoints().toArray
    val t = bu.toString.codePoints().toArray
    val la = s.length
    val lb = t.length
    if (la == 0 || lb == 0) return 0.0
    if (java.util.Arrays.equals(s, t)) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && s(i) == t(j)) {
          aMatch(i) = true
          bMatch(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var trans = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (s(i) != t(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val mt = m.toDouble
    // transpositions = FLOOR(out-of-order matches / 2) — DuckDB floors
    // the half-count (fuzz-pinned: 30k random pairs, exact doubles)
    val jaro = (mt / la + mt / lb + (mt - trans / 2) / mt) / 3.0
    if (jaro > 0.7) {
      val maxL = math.min(4, math.min(la, lb))
      var l = 0
      while (l < maxL && s(l) == t(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

/** `canonical_url(s)`: web-corpus URL canonicalization — the FIRST
  * dedup key of a CCNet/RefinedWeb-style pipeline, applied before any
  * content hashing so `HTTP://Host.com:80/a/?utm_source=x#f` and
  * `http://host.com/a` collapse to one key. Rules (each replayable in
  * plain SQL, which is what the oracle does):
  *
  *  - no `://` after a `[^:/?#]+` scheme prefix → NULL (not a URL);
  *  - scheme and host lowercase; the port suffix `:[0-9]+` is dropped
  *    when it is the scheme default (http:80, https:443), kept
  *    otherwise;
  *  - the `#fragment` is dropped;
  *  - trailing `/`s are stripped from the path (`/a/` → `/a`,
  *    `/` → ``, `//` → `` — ALL of them, which is what makes the
  *    expression idempotent: canonical(canonical(x)) = canonical(x),
  *    fuzz-pinned in PropertySpec);
  *  - query params whose lowercased key starts with `utm_` or is one
  *    of gclid/fbclid/msclkid/igshid/ref are removed (as are empty
  *    `&&` segments), remaining params keep their order; an emptied
  *    query drops its `?`.
  *
  * One JVM pass per row, no regex on the hot path.
  */
case class CanonicalUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "canonical_url"

  override protected def nullSafeEval(input: Any): Any =
    CanonicalUrl.evalStatic(input.asInstanceOf[UTF8String])

  // not-a-URL inputs produce null from a non-null child, so the
  // codegen sets isNull from the call result (nullSafeCodeGen allows
  // exactly this; defineCodeGen would assume non-null results)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.CanonicalUrl.evalStatic($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)
}

object CanonicalUrl {
  private val DropKeys = Set("gclid", "fbclid", "msclkid", "igshid", "ref")

  def evalStatic(s: UTF8String): UTF8String = {
    val url = s.toString
    val sep = url.indexOf("://")
    if (sep <= 0) return null
    val scheme = url.substring(0, sep)
    var i = 0
    while (i < scheme.length) {
      val c = scheme.charAt(i)
      if (c == ':' || c == '/' || c == '?' || c == '#') return null
      i += 1
    }
    val schemeL = scheme.toLowerCase(java.util.Locale.ROOT)
    var rest = url.substring(sep + 3)
    val frag = rest.indexOf('#')
    if (frag >= 0) rest = rest.substring(0, frag)
    var hpEnd = 0
    while (hpEnd < rest.length && rest.charAt(hpEnd) != '/' && rest.charAt(hpEnd) != '?')
      hpEnd += 1
    val hostport = rest.substring(0, hpEnd)
    val tail = rest.substring(hpEnd)
    // port = trailing ':digits+' only — anything else stays host text
    val colon = hostport.lastIndexOf(':')
    val hasPort = colon >= 0 && colon < hostport.length - 1 &&
      hostport.substring(colon + 1).forall(c => c >= '0' && c <= '9')
    val host = (if (hasPort) hostport.substring(0, colon) else hostport)
      .toLowerCase(java.util.Locale.ROOT)
    val port = if (hasPort) hostport.substring(colon + 1) else ""
    val dropPort = hasPort &&
      ((schemeL == "http" && port == "80") || (schemeL == "https" && port == "443"))
    val q = tail.indexOf('?')
    val path = if (q >= 0) tail.substring(0, q) else tail
    val query = if (q >= 0) tail.substring(q + 1) else ""
    var pEnd = path.length
    while (pEnd > 0 && path.charAt(pEnd - 1) == '/') pEnd -= 1
    val cpath = path.substring(0, pEnd)
    val kept = new StringBuilder
    if (query.nonEmpty) {
      var start = 0
      while (start <= query.length) {
        val amp = query.indexOf('&', start)
        val end = if (amp < 0) query.length else amp
        if (end > start) {
          val seg = query.substring(start, end)
          val eq = seg.indexOf('=')
          val key = (if (eq >= 0) seg.substring(0, eq) else seg)
            .toLowerCase(java.util.Locale.ROOT)
          if (!key.startsWith("utm_") && !DropKeys.contains(key)) {
            if (kept.nonEmpty) kept.append('&')
            kept.append(seg)
          }
        }
        start = end + 1
        if (amp < 0) start = query.length + 1
      }
    }
    val out = new StringBuilder(url.length)
    out.append(schemeL).append("://").append(host)
    if (hasPort && !dropPort) out.append(':').append(port)
    out.append(cpath)
    if (kept.nonEmpty) out.append('?').append(kept)
    UTF8String.fromString(out.toString)
  }
}

/** `ngram_md5s(text, ns)`: every word n-gram of `text` for every n in
  * `ns`, reduced to its 16-byte md5, in ONE JVM pass — the corpus-scale
  * construction step of the G93/G93b distinct-n reports. Replaces the
  * interpreted HOF chain (sequence→transform→concat_ws→md5 per
  * element), which dominated q294/q314 wall time: words split once,
  * each gram's digest runs over the word byte-slices joined by 0x20 —
  * byte-identical to `unhex(md5(concat_ws(" ", w_i..w_{i+n-1})))`, so
  * the DuckDB oracles are untouched. Output rides the exchange as
  * (n, 16-byte binary), never gram text.
  *
  * Output: array<struct<n: long, h: binary>> (non-distinct, in n-then-
  * position order; fewer than n words contribute nothing for that n).
  */
case class NgramMd5Structs(child: Expression, ns: Seq[Int])
    extends UnaryExpression {

  require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")

  private val nsArr: Array[Int] = ns.toArray

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("h", BinaryType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "ngram_md5s"

  override protected def nullSafeEval(input: Any): Any =
    NgramMd5Structs.evalStatic(input.asInstanceOf[UTF8String], nsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ns", nsArr, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NgramMd5Structs.evalStatic($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramMd5Structs =
    copy(child = newChild)
}

object NgramMd5Structs {
  def evalStatic(text: UTF8String, ns: Array[Int]): ArrayData = {
    val words = NativeText.splitWords(text)
    val wb = new Array[Array[Byte]](words.length)
    var i = 0
    while (i < words.length) { wb(i) = words(i).getBytes; i += 1 }
    val md = MessageDigest.getInstance("MD5")
    var total = 0
    var t = 0
    while (t < ns.length) {
      if (words.length >= ns(t)) total += words.length - ns(t) + 1
      t += 1
    }
    val out = new Array[Any](total)
    var p = 0
    t = 0
    while (t < ns.length) {
      val n = ns(t)
      if (words.length >= n) {
        val nl = java.lang.Long.valueOf(n.toLong)
        i = 0
        while (i <= words.length - n) {
          md.reset()
          var j = 0
          while (j < n) {
            if (j > 0) md.update(' '.toByte)
            md.update(wb(i + j))
            j += 1
          }
          out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](nl, md.digest()))
          p += 1
          i += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_shingles_all(text, n)`: every word n-gram (tokens joined by
  * one space), duplicates KEPT in position order — the tf-weighted
  * counterpart of [[WordShinglesDistinct]] (set operators dedupe;
  * tf-cosine weights the repeats). One JVM pass; replaces the
  * interpreted sequence→transform→concat_ws chain on the q142 hot
  * path. Fewer than n words → empty array.
  */
case class WordShinglesAll(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles_all"

  override protected def nullSafeEval(input: Any): Any =
    WordShinglesAll.evalStatic(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShinglesAll.evalStatic($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesAll =
    copy(child = newChild)
}

object WordShinglesAll {
  private val Space = UTF8String.fromString(" ")

  def evalStatic(text: UTF8String, n: Int): ArrayData = {
    val words = NativeText.splitWords(text)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - n + 1)
    var i = 0
    while (i <= words.length - n) {
      var shingle = words(i)
      var j = 1
      while (j < n) {
        shingle = UTF8String.concat(shingle, Space, words(i + j))
        j += 1
      }
      out(i) = shingle
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `cdc_chunk_bounds(text, w, mask)`: content-defined chunk (start, len)
  * pairs over the CODE POINTS of `text` — boundaries cut after every
  * w-codepoint window whose 31-polynomial hash ≡ 0 mod `mask`, chunk
  * offsets/lengths counted in code points (1-based `substr`-ready
  * starts are `s + 1`). Replicates bit-for-bit the HOF formulation
  * `transform(filter(sequence(1, L-w+1), i -> poly(i) % mask = 0), ...)`
  * over `transform(split(text, ''), ascii)` — poly in Horner form on
  * exact longs (codepoint ≤ 0x10FFFF, × 31⁷ × w < 2⁶³) — but in one
  * compiled pass per row instead of ~L interpreted lambda evaluations
  * per reference to the boundary array (the q430 hot path: predicate
  * pushdown re-evaluated the interpreted chain inside a one-task
  * Filter; this expression is cheap enough that inferred pushed
  * filters cost nothing). Zero-length chunks (a cut at the text end)
  * are dropped here, so callers explode the result directly.
  */
case class CdcChunkBounds(child: Expression, w: Int, mask: Int)
    extends UnaryExpression {

  require(w >= 2 && mask >= 2, s"window/mask must be >= 2, got $w/$mask")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("s", org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("l", org.apache.spark.sql.types.IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunk_bounds"

  override protected def nullSafeEval(input: Any): Any =
    CdcChunkBounds.evalStatic(input.asInstanceOf[UTF8String], w, mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcChunkBounds.evalStatic($c, $w, $mask)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunkBounds =
    copy(child = newChild)
}

object CdcChunkBounds {
  def evalStatic(text: UTF8String, w: Int, mask: Int): ArrayData = {
    val s = text.toString
    // code points, one linear pass (split('')+ascii semantics)
    var ci = 0
    var n = 0
    val cps = new Array[Int](s.length)
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      cps(n) = cp
      n += 1
      ci += Character.charCount(cp)
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // boundary positions: [0] ++ cuts ++ [n]; cut after window i..i+w-1
    val bounds = new java.util.ArrayList[Int](n / mask + 2)
    bounds.add(0)
    if (n >= w) {
      var i = 0
      while (i <= n - w) {
        var h = 0L
        var j = 0
        while (j < w) { h = h * 31L + cps(i + j); j += 1 }
        if (h % mask == 0) bounds.add(i + w)
        i += 1
      }
    }
    if (bounds.get(bounds.size - 1) != n) bounds.add(n)
    val out = new java.util.ArrayList[Any](bounds.size)
    var b = 0
    while (b < bounds.size - 1) {
      val st = bounds.get(b)
      val ln = bounds.get(b + 1) - st
      if (ln > 0)
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](st, ln)))
      b += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `char_trigrams(text)`: every overlapping 3-CODE-POINT slice of
  * `text`, in order — identical to
  * `transform(sequence(1, length(text)-2), i -> substring(text, i, 3))`
  * but one byte pass per row instead of an interpreted lambda whose
  * each `substring(i, 3)` re-walks i code points (O(len²) per doc —
  * the q335 training hot path). Fewer than 3 code points → empty
  * array (callers filter `length >= 3` anyway).
  */
case class CharTrigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_trigrams"

  override protected def nullSafeEval(input: Any): Any =
    CharTrigrams.evalStatic(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharTrigrams.evalStatic($c)")

  override protected def withNewChildInternal(newChild: Expression): CharTrigrams =
    copy(child = newChild)
}

object CharTrigrams {
  def evalStatic(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    // byte offsets of each code-point boundary (one pass)
    val starts = new Array[Int](text.numChars() + 1)
    var i = 0
    var n = 0
    while (i < bytes.length) {
      starts(n) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      n += 1
    }
    starts(n) = bytes.length
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 2)
    var k = 0
    while (k < n - 2) {
      val from = starts(k)
      val to = starts(k + 3)
      out(k) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, to))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-row resampling weight vector — the fused primitive behind the
  * Poisson bootstrap (q173/q214) and the permutation test (q256).
  *
  * Element r (0-based) of the output is `w_r · cents`, element
  * `reps + r` is `w_r`, where `w_r = #{t ∈ thresholds : bucket_r ≥ t}`
  * and `bucket_r` is EXACTLY
  * `conv(substring(md5(concat(id, prefix, r)), 1, 6), 16, 10)` — the
  * integer value of the digest's first three bytes over the UTF-8
  * bytes of id ++ prefix ++ decimal(r). With the ascending
  * [[graft.operators.Rollups.PoissonThresholds]] this reproduces the
  * `when(bucket < t0, 0).when(bucket < t1, 1)…otherwise(8)` chain
  * bit-for-bit; with the single threshold 2²³ it is the permutation
  * coin's complement (w = 1 iff NOT heads).
  *
  * Why native: the previous formulation exploded every row ×reps and
  * re-ran the md5/substring/conv/when chain per (row, rep) — reps
  * string digests, hex renders and big-int parses per input row, plus
  * a reps× row fan through the hash aggregate. One eval here reuses a
  * single MessageDigest, renders no hex, and feeds [[VectorSum]] at
  * input-row grain (RepWeightVecSpec pins the equivalence).
  */
case class RepWeightVec(
    left: Expression,
    right: Expression,
    prefix: String,
    reps: Int,
    thresholds: Seq[Long])
    extends BinaryExpression {

  require(reps >= 1, s"reps must be >= 1, got $reps")
  require(thresholds.nonEmpty && thresholds == thresholds.sorted,
    s"thresholds must be ascending, got $thresholds")

  private val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val thArr: Array[Long] = thresholds.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rep_weight_vec"

  override protected def nullSafeEval(id: Any, cents: Any): Any =
    RepWeightVec.evalStatic(id.asInstanceOf[UTF8String],
      cents.asInstanceOf[Long], prefixBytes, reps, thArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pref = ctx.addReferenceObj("prefix", prefixBytes, "byte[]")
    val th = ctx.addReferenceObj("thresholds", thArr, "long[]")
    defineCodeGen(ctx, ev, (id, cents) =>
      s"graft.functions.RepWeightVec.evalStatic($id, $cents, $pref, $reps, $th)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RepWeightVec =
    copy(left = newLeft, right = newRight)
}

object RepWeightVec {
  /** ASCII bytes of "0".."127" — covers every realistic reps value
    * without a per-(row, rep) allocation.
    */
  private val DigitCache: Array[Array[Byte]] =
    Array.tabulate(128)(i => String.valueOf(i).getBytes)

  def evalStatic(
      id: UTF8String,
      cents: Long,
      prefix: Array[Byte],
      reps: Int,
      thresholds: Array[Long]): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val idBytes = id.getBytes
    val out = new Array[Long](2 * reps)
    var r = 0
    while (r < reps) {
      md.reset()
      md.update(idBytes)
      md.update(prefix)
      md.update(
        if (r < DigitCache.length) DigitCache(r)
        else String.valueOf(r).getBytes)
      val d = md.digest()
      val bucket = ((d(0) & 0xffL) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      var w = 0L
      while (w < thresholds.length && bucket >= thresholds(w.toInt)) w += 1
      out(r) = w * cents
      out(reps + r) = w
      r += 1
    }
    new GenericArrayData(out)
  }

  /** `array<long>` of length 2·reps: [w_r·cents ...][w_r ...]. */
  def repWeightVec(
      id: Column,
      cents: Column,
      prefix: String,
      reps: Int,
      thresholds: Seq[Long]): Column =
    columnOf(RepWeightVec(expressionOf(id), expressionOf(cents),
      prefix, reps, thresholds))
}
