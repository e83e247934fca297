package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The corpus-statistics text operators' shared pieces, pinned on
  * hand-computed corpora: the word split they start from, the in-row
  * n-grams, the term counts and two statistics built on them.
  */
class TextPrimitivesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq[(Long, String)](
    (1L, null), (2L, ""), (3L, "a"), (4L, "a b"), (5L, "a b c"), (6L, "x x x x"))
    .toDF("doc_id", "text")

  private def grams(fields: Seq[String]): Seq[String] =
    TextAnalysis.ngrams(docs, "text", fields, "g", col("doc_id"))
      .select(col("doc_id") +: fields.map(f => col(s"g.$f")): _*)
      .collect().map(_.mkString(" ")).sorted.toSeq

  test("words keeps empty segments, as DuckDB's string_split does") {
    // the oracles replay words with string_split, which keeps every
    // empty segment (leading, doubled, trailing); a regex split keeps
    // the trailing one too, which is why match counts use
    // regexp_extract_all
    val got = Seq("a b ", " a  b").toDF("text")
      .select(TextAnalysis.words(col("text"))).as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("a", "b", ""), Seq("", "a", "", "b")))
    assert(Seq("Hi. Go!").toDF("text").select(split(col("text"), "[.!?]+"))
      .as[Seq[String]].collect().toSeq == Seq(Seq("Hi", " Go", "")))
  }

  test("ngrams emit one row per in-row window and none for shorter documents") {
    // null text has no words and "" is one empty word: neither has a pair
    assert(grams(Seq("p", "c")) ==
      Seq("4 a b", "5 a b", "5 b c", "6 x x", "6 x x", "6 x x"))
    assert(grams(Seq("a", "b", "c")) == Seq("5 a b c", "6 x x x", "6 x x x"))
  }

  test("termCounts counts each (keys, word) across documents, repeats included") {
    val got = TextAnalysis.termCounts(docs.filter(col("doc_id") >= 5),
        Seq(col("doc_id").as("d")), "text", "word", "n")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == Seq((5L, "a", 1L), (5L, "b", 1L), (5L, "c", 1L), (6L, "x", 4L)))
  }

  test("vocabRichness: Chao1 and Good-Turing coverage off a known spectrum") {
    // s1: a×2, b, c, d×3, e over two documents — N = 8, D = 5, f1 = 3
    // (b, c, e), f2 = 1 (a): Chao1 = 5 + 3·2 / (2·(1+1)) = 6.5 and
    // coverage = 1 − 3/8; s2: z×2 — f1 = 0, so Chao1 = D and coverage 1
    val corpus = Seq(("s1", "a a b c"), ("s1", "d d d e"), ("s2", "z z"))
      .toDF("source", "text")
    val got = TextAnalysis.vocabRichness(corpus)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("s1", 8L, 5L, 3L, 1L, 6.5, 0.625), ("s2", 2L, 1L, 0L, 1L, 1.0, 1.0)))
  }

  test("perplexityBuckets: tercile cuts by value, a tie at a cut shares its bucket") {
    // en: one-word docs a, a, a, b, b, c — T = 6, so nll = −ln(cf/6):
    // a 0.6931 (×3), b 1.0986 (×2), c 1.7918. The first cut (3·cum ≥ 6)
    // lands on a's value with cum 3, so all three a docs are head, past
    // n/3 = 2; the second (3·cum ≥ 12) lands on b's. de trains its own
    // model: two identical docs, both at the one value, both head.
    val corpus = Seq((1L, "en", "a"), (2L, "en", "a"), (3L, "en", "a"), (4L, "en", "b"),
        (5L, "en", "b"), (6L, "en", "c"), (7L, "de", "x y"), (8L, "de", "x y"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.perplexityBuckets(corpus)
      .as[(Long, String, Long, Double, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "en", 1L, 0.6931, "head"), (2L, "en", 1L, 0.6931, "head"),
      (3L, "en", 1L, 0.6931, "head"), (4L, "en", 1L, 1.0986, "middle"),
      (5L, "en", 1L, 1.0986, "middle"), (6L, "en", 1L, 1.7918, "tail"),
      (7L, "de", 2L, 0.6931, "head"), (8L, "de", 2L, 0.6931, "head")))
  }
}
