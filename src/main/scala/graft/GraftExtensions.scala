package graft

import graft.functions.{CanonicalUrl, HarmonicScore, JaroWinkler, MinHashSignature, NfcNormalize, RollingMinHash, TopKCollect, TopKHarmonic, WordShinglesDistinct}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for graft's native expressions.
  *
  * Standard packaging: `--conf spark.sql.extensions=graft.GraftExtensions`
  * registers the functions at session build; [[GraftExtensions.register]]
  * attaches them to an already-running session (tests, notebooks).
  *
  * {{{
  *   SELECT harmonic_score(collect_list(score), 50, 1.6449340668482264)
  *   SELECT word_shingles(text, 3), minhash_signature(word_shingles(text, 3), 12)
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // windowed-top-k de-skew rewrite for k <= 1000; Spark's
    // spark.sql.optimizer.excludedRules=graft.plans.RewriteWindowTopK
    // turns it off
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
  }
}

object GraftExtensions {

  /** Catalyst-expression twins of the CmsSketch/BloomSketch Column
    * helpers, for the SQL builders: a FunctionBuilder must return a
    * pure Expression tree (Column-DSL nodes wrapped via the shim do
    * not survive analysis inside a registered function). The
    * SQL-equals-Column-API spec in ScaleDesignSpec keeps the two
    * formulations in lockstep.
    */
  private object SketchExprs {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

    private def lv(name: String) = UnresolvedNamedLambdaVariable(Seq(name))
    private def str(e: Expression) = Cast(e, StringType)

    /** first `nibbles` hex nibbles of md5(i ":" value), mod `mod`. */
    private def bucket(i: Expression, value: Expression, nibbles: Int, mod: Int): Expression =
      Remainder(
        Cast(Conv(
          Substring(
            Md5(Cast(Concat(Seq(str(i), Literal(":"), str(value))), BinaryType)),
            Literal(1), Literal(nibbles)),
          Literal(16), Literal(10)), LongType),
        Literal(mod.toLong))

    def buckets(value: Expression, n: Int, nibbles: Int, mod: Int): Expression = {
      val v = lv("gi")
      ArrayTransform(new Sequence(Literal(0), Literal(n - 1)),
        LambdaFunction(bucket(v, value, nibbles, mod), Seq(v)))
    }

    def cmsEstimate(sk: Expression, key: Expression, d: Int, w: Int): Expression = {
      val v = lv("gi")
      ArrayMin(ArrayTransform(new Sequence(Literal(0), Literal(d - 1)),
        LambdaFunction(
          ElementAt(sk,
            Cast(Add(Add(Multiply(v, Literal(w.toLong)), bucket(v, key, 6, w)),
              Literal(1L)), IntegerType)),
          Seq(v))))
    }

    def mightContain(bloom: Expression, value: Expression, k: Int, m: Int): Expression = {
      val p = lv("gp")
      ArrayForAll(buckets(value, k, 8, m),
        LambdaFunction(
          Not(EqualTo(
            BitwiseAnd(
              ElementAt(bloom,
                Cast(Add(ShiftRight(p, Literal(6)), Literal(1L)), IntegerType)),
              ShiftLeft(Literal(1L), Cast(Remainder(p, Literal(64L)), IntegerType))),
            Literal(0L))),
          Seq(p)))
    }
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }
  private def doubleArg(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    // SQL decimal literals (e.g. 1.6449340668482264) parse as Decimal
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  private def doubleSeqArg(e: Expression, what: String): Seq[Double] = e match {
    case org.apache.spark.sql.catalyst.expressions.CreateArray(items, _) =>
      items.map(doubleArg(_, what))
    case other => throw new IllegalArgumentException(
      s"$what must be an array(...) of numeric literals, got $other")
  }
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  val functions: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    ("harmonic_score",
      info("harmonic_score",
        "harmonic_score(scores[, k, max_score]) - top-K harmonic sum of a score array"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => HarmonicScore(c, GraftConf.TopK, GraftConf.MaxScore)
        case Seq(c, k) => HarmonicScore(c, intArg(k, "k"), GraftConf.MaxScore)
        case Seq(c, k, m) => HarmonicScore(c, intArg(k, "k"), doubleArg(m, "max_score"))
        case _ => throw new IllegalArgumentException("harmonic_score takes 1-3 arguments")
      }),
    ("word_shingles",
      info("word_shingles",
        "word_shingles(text, n) - distinct word n-gram shingles, first-occurrence order"),
      (args: Seq[Expression]) => args match {
        case Seq(c, n) => WordShinglesDistinct(c, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("word_shingles takes 2 arguments")
      }),
    ("jaro_winkler",
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler string similarity (DuckDB-identical semantics)"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => JaroWinkler(a, b)
        case _ => throw new IllegalArgumentException("jaro_winkler takes 2 arguments")
      }),
    ("nfc_normalize",
      info("nfc_normalize",
        "nfc_normalize(s) - Unicode NFC canonical normalization (DuckDB-identical semantics)"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => NfcNormalize(s)
        case _ => throw new IllegalArgumentException("nfc_normalize takes 1 argument")
      }),
    ("canonical_url",
      info("canonical_url",
        "canonical_url(s) - web-corpus URL canonicalization (SQL-replayable rules)"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => CanonicalUrl(s)
        case _ => throw new IllegalArgumentException("canonical_url takes 1 argument")
      }),
    ("minhash_signature",
      info("minhash_signature",
        "minhash_signature(shingles, k) - k md5-derived minima over a shingle set"),
      (args: Seq[Expression]) => args match {
        case Seq(c, k) => MinHashSignature(c, intArg(k, "k"))
        case _ => throw new IllegalArgumentException("minhash_signature takes 2 arguments")
      }),
    ("rolling_minhash",
      info("rolling_minhash",
        "rolling_minhash(text[, w]) - min Rabin-Karp hash over w-byte windows (default 16)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => RollingMinHash(c, 16)
        case Seq(c, w) => RollingMinHash(c, intArg(w, "w"))
        case _ => throw new IllegalArgumentException("rolling_minhash takes 1-2 arguments")
      }),
    ("topk_collect",
      info("topk_collect",
        "topk_collect(score[, k]) - bounded top-K replacement for collect_list (descending array)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.DoubleType
        args match {
          case Seq(c) => TopKCollect(Cast(c, DoubleType))
          case Seq(c, k) => TopKCollect(Cast(c, DoubleType), intArg(k, "k"))
          case _ => throw new IllegalArgumentException("topk_collect takes 1-2 arguments")
        }
      }),
    ("topk_harmonic",
      info("topk_harmonic",
        "topk_harmonic(score_array[, k, max_score]) - cumulative harmonic aggregate (use OVER a growing frame)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => TopKHarmonic(c)
        case Seq(c, k) => TopKHarmonic(c, intArg(k, "k"))
        case Seq(c, k, m) => TopKHarmonic(c, intArg(k, "k"), doubleArg(m, "max_score"))
        case _ => throw new IllegalArgumentException("topk_harmonic takes 1-3 arguments")
      }),
    ("hll_distinct",
      info("hll_distinct",
        "hll_distinct(value[, p]) - HyperLogLog approximate distinct count (md5 hash, 2^p registers)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Md5}
        import org.apache.spark.sql.types.{BinaryType, StringType}
        def h(c: Expression) = Md5(Cast(Cast(c, StringType), BinaryType))
        args match {
          case Seq(c) => graft.functions.HllSketch(h(c))
          case Seq(c, p) => graft.functions.HllSketch(h(c), intArg(p, "p"))
          case _ => throw new IllegalArgumentException("hll_distinct takes 1-2 arguments")
        }
      }),
    ("cms_sketch",
      info("cms_sketch",
        "cms_sketch(value[, d, w]) - count-min sketch aggregate: d*w counter matrix as a long array"),
      (args: Seq[Expression]) => {
        def build(c: Expression, d: Int, w: Int) =
          graft.functions.CmsSketch(SketchExprs.buckets(c, d, 6, w), d, w)
        args match {
          case Seq(c) => build(c, 4, 1024)
          case Seq(c, d, w) => build(c, intArg(d, "d"), intArg(w, "w"))
          case _ => throw new IllegalArgumentException("cms_sketch takes 1 or 3 arguments")
        }
      }),
    ("cms_estimate",
      info("cms_estimate",
        "cms_estimate(sketch, key[, d, w]) - count-min point frequency estimate (never under-counts)"),
      (args: Seq[Expression]) => {
        def build(sk: Expression, key: Expression, d: Int, w: Int) =
          SketchExprs.cmsEstimate(sk, key, d, w)
        args match {
          case Seq(sk, key) => build(sk, key, 4, 1024)
          case Seq(sk, key, d, w) => build(sk, key, intArg(d, "d"), intArg(w, "w"))
          case _ => throw new IllegalArgumentException("cms_estimate takes 2 or 4 arguments")
        }
      }),
    ("bloom_sketch",
      info("bloom_sketch",
        "bloom_sketch(value[, k, m]) - bloom filter aggregate: m-bit set as an m/64 long array"),
      (args: Seq[Expression]) => {
        def build(c: Expression, k: Int, m: Int) =
          graft.functions.BloomSketch(SketchExprs.buckets(c, k, 8, m), k, m)
        args match {
          case Seq(c) => build(c, 5, 1 << 17)
          case Seq(c, k, m) => build(c, intArg(k, "k"), intArg(m, "m"))
          case _ => throw new IllegalArgumentException("bloom_sketch takes 1 or 3 arguments")
        }
      }),
    ("bloom_might_contain",
      info("bloom_might_contain",
        "bloom_might_contain(bloom, value[, k, m]) - bloom membership probe (no false negatives)"),
      (args: Seq[Expression]) => {
        def build(b: Expression, v: Expression, k: Int, m: Int) =
          SketchExprs.mightContain(b, v, k, m)
        args match {
          case Seq(b, v) => build(b, v, 5, 1 << 17)
          case Seq(b, v, k, m) => build(b, v, intArg(k, "k"), intArg(m, "m"))
          case _ => throw new IllegalArgumentException("bloom_might_contain takes 2 or 4 arguments")
        }
      }),
    ("hll_state",
      info("hll_state",
        "hll_state(value[, p]) - HLL register file as bytes (store fine, roll up with hll_merge)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Md5}
        import org.apache.spark.sql.types.{BinaryType, StringType}
        def h(c: Expression) = Md5(Cast(Cast(c, StringType), BinaryType))
        args match {
          case Seq(c) => graft.functions.HllState(h(c))
          case Seq(c, p) => graft.functions.HllState(h(c), intArg(p, "p"))
          case _ => throw new IllegalArgumentException("hll_state takes 1-2 arguments")
        }
      }),
    ("hll_merge",
      info("hll_merge",
        "hll_merge(state[, p]) - fold stored HLL register files to the merged estimate"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.HllMerge(c)
        case Seq(c, p) => graft.functions.HllMerge(c, intArg(p, "p"))
        case _ => throw new IllegalArgumentException("hll_merge takes 1-2 arguments")
      }),
    ("vector_sum",
      info("vector_sum",
        "vector_sum(array<long>) - elementwise sum aggregate (CMS/histogram/centroid rollups)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.VectorSum(c)
        case _ => throw new IllegalArgumentException("vector_sum takes 1 argument")
      }),
    ("bitmap_distinct",
      info("bitmap_distinct",
        "bitmap_distinct(value) - EXACT distinct count of any long column (sparse bitmap)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.LongType
        args match {
          case Seq(c) => graft.functions.BitmapAgg(Cast(c, LongType))
          case _ => throw new IllegalArgumentException("bitmap_distinct takes 1 argument")
        }
      }),
    ("bitmap_state",
      info("bitmap_state",
        "bitmap_state(value) - bitset file as bytes (store fine, roll up with bitmap_merge)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.LongType
        args match {
          case Seq(c) => graft.functions.BitmapAgg(Cast(c, LongType), evalState = true)
          case _ => throw new IllegalArgumentException("bitmap_state takes 1 argument")
        }
      }),
    ("bitmap_merge",
      info("bitmap_merge",
        "bitmap_merge(state) - OR stored bitset files to the exact merged distinct count"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.BitmapMerge(c)
        case _ => throw new IllegalArgumentException("bitmap_merge takes 1 argument")
      }),
    ("kll_state",
      info("kll_state",
        "kll_state(value[, k]) - KLL quantile summary as bytes (store fine, roll up with kll_merge)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.DoubleType
        args match {
          case Seq(c) => graft.functions.KllSketch(Cast(c, DoubleType))
          case Seq(c, k) => graft.functions.KllSketch(Cast(c, DoubleType), intArg(k, "k"))
          case _ => throw new IllegalArgumentException("kll_state takes 1-2 arguments")
        }
      }),
    ("kll_merge",
      info("kll_merge",
        "kll_merge(state[, k]) - fold stored KLL summaries to the merged summary bytes"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.KllMergeState(c)
        case Seq(c, k) => graft.functions.KllMergeState(c, intArg(k, "k"))
        case _ => throw new IllegalArgumentException("kll_merge takes 1-2 arguments")
      }),
    ("kll_quantiles",
      info("kll_quantiles",
        "kll_quantiles(state, array(phi...)[, k]) - fold stored KLL summaries and eval the phi-quantile estimates"),
      (args: Seq[Expression]) => args match {
        case Seq(c, p) => graft.functions.KllQuantiles(c, doubleSeqArg(p, "phis"))
        case Seq(c, p, k) =>
          graft.functions.KllQuantiles(c, doubleSeqArg(p, "phis"), intArg(k, "k"))
        case _ => throw new IllegalArgumentException("kll_quantiles takes 2-3 arguments")
      }))

  /** Register on a live session (tests/notebooks). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
