package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding train + apply — completes the G32 (pair stats) /
  * G9 (regex-ish counts) family into a real tokenizer loop: learn a
  * greedy merge list from corpus word frequencies, then encode text
  * with it for EXACT token counts (the number a training-data budget
  * actually bills, vs G9's pretokenizer approximation).
  *
  * Representation contract (both engines replay it bit-for-bit): a
  * word is its tokens, each wrapped \u0002 token \u0003, joined by one
  * space; a document is its words' encodings joined by \u0004. A merge
  * (a, b) applies as ONE left-to-right non-overlapping string replace
  * of "a b" -> wrapped(content(a)+content(b)) per merge, merges in
  * training order — the classic sequential-replay BPE encoder, made
  * string-safe by the out-of-band wrappers (no cross-token or
  * cross-word false matches, no overlap ambiguity: engines' replace()
  * semantics agree on wrapped tokens).
  *
  * Scale shape: training iterates on the WORD-FREQUENCY table, not
  * the corpus — one corpus scan builds (word, count), every greedy
  * iteration is a pair-explode + combine over vocabulary-sized data
  * (~1M rows for a natural-language corpus at any corpus scale) and
  * ONE 1-row argmax collect (a driver-side control scalar, the
  * sanctioned shape). Encoding is a pure per-row projection — nMerges
  * chained replaces, no shuffle, stays inside whole-stage codegen.
  */
object Bpe {

  private val B = "\u0002" // token start
  private val E = "\u0003" // token end
  private val W = "\u0004" // word separator (NOT the in-word token space)

  private def content(wrapped: String): String =
    wrapped.replace(B, "").replace(E, "")

  private def merged(a: String, b: String): String = B + content(a) + content(b) + E

  /** Char-level initial encoding of one word. */
  private def wrapWord(w: Column): Column =
    concat_ws(" ", transform(split(w, ""), c => concat(lit(B), c, lit(E))))

  /** (enc, count) word-frequency table — the training working set. */
  private def vocab(df: DataFrame, textCol: String): DataFrame =
    TextAnalysis.termCounts(df, Nil, textCol, "__word", "__cnt")
      .filter(col("__word") =!= "")
      .select(wrapWord(col("__word")).as("__enc"), col("__cnt"))

  /** Greedy BPE training: "count adjacent token pairs weighted by word
    * frequency, merge the argmax" with the deterministic tie-break
    * (count desc, left asc, right asc — binary string order, identical
    * in DuckDB). Returns the merge list as WRAPPED (left, right) token
    * pairs in training order; stops early when no pairs remain.
    *
    * Batched driver rounds (VERDICT r9/r10): the naive loop is one
    * Spark job per merge — 32k sequential jobs at real tokenizer vocab
    * scale. Instead each round collects the top `2·batch+1` pairs and
    * accepts the longest PREFIX of that ranking that sequential greedy
    * provably also picks, so the merge LIST is bit-identical to the
    * one-at-a-time algorithm (the q270 DuckDB oracle replays sequential
    * greedy unchanged). A prefix pair p_i is safely accepted when:
    *   - its tokens are disjoint from every earlier-accepted pair's
    *     (disjoint merges can't change each other's counts — existing
    *     pair counts never increase under a merge), and
    *   - c_i strictly exceeds every count a pair NEWLY CREATED by an
    *     earlier-accepted merge (a_j,b_j) could have: new pairs all
    *     involve the fused token, and their counts are bounded by the
    *     counts of existing (x,a_j) / (b_j,y) pairs — read from the
    *     collected window when visible, by the window's floor count
    *     when not, plus ⌊c_j/2⌋ for the self-pair chain (aa,aa) case.
    * The first rejection ends the round (later ranks may depend on the
    * rejected pair's re-count). Additionally, if the fused string
    * COLLIDES with an already-existing fused token (two split points
    * yielding the same content, routine at real tokenizer vocab
    * sizes), the merge mints new occurrences of that existing token
    * and existing-pair counts CAN increase — the round ends right
    * after the colliding accept so the next recount restores
    * exactness. Round 1 always accepts ≥1 pair, so driver rounds ≤
    * nMerges and in practice ~nMerges/batch.
    */
  def train(
      df: DataFrame,
      textCol: String = "text",
      nMerges: Int = 8,
      batch: Int = 16): Seq[(String, String)] =
    trainCounted(df, textCol, nMerges, batch)._1

  /** [[train]] plus the driver-round count — the spec pins the batching
    * actually bounds rounds well below one-per-merge.
    */
  private[graft] def trainCounted(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      batch: Int): (Seq[(String, String)], Int) = {
    require(batch >= 1)
    var v = vocab(df, textCol).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // every multi-char token ever created (initial tokens are single
    // chars, so a fused string can only collide with a FUSED token)
    val fused = scala.collection.mutable.Set.empty[String]
    var done = false
    var rounds = 0
    val m = math.max(2 * batch, 8)
    while (out.size < nMerges && !done) {
      rounds += 1
      val toks = split(col("__enc"), " ")
      // bounded top-(m+1) collect: a driver-side control slice of the
      // vocabulary-grain pair table, not a data collect
      val top = v
        .filter(size(toks) >= 2)
        .select(col("__cnt"), explode(transform(
          sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("a"), element_at(toks, i + 1).as("b"))))
          .as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum(col("__cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(m + 1).collect()
      if (top.isEmpty) done = true
      else {
        val window = top.take(m)
        // every pair NOT in the window counts <= cLast (desc order)
        val cLast = if (top.length > m) top(m).getLong(2) else 0L
        val used = scala.collection.mutable.Set.empty[String]
        var maxNewBound = -1L // max possible new-pair count so far
        var stop = false
        var accepted = 0
        for (r <- window if !stop) {
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          val full = accepted >= batch || out.size >= nMerges
          val ok = !full && (accepted == 0 ||
            (!used(a) && !used(b) && c > maxNewBound))
          if (ok) {
            out += ((a, b)); accepted += 1; used += a; used += b
            val f = merged(a, b)
            val fromWindow = window.iterator
              .filter(q => !(q eq r))
              .filter(q => q.getString(1) == a || q.getString(0) == b)
              .map(_.getLong(2)).maxOption.getOrElse(0L)
            val self = if (a == b) c / 2 else 0L
            maxNewBound = Seq(maxNewBound, cLast, fromWindow, self).max
            v = v.withColumn("__enc",
              replace(col("__enc"), lit(a + " " + b), lit(f)))
            // string collision: merged(a,b) fuses to an ALREADY-existing
            // token (e.g. ("t","he") after ("th","e") both yield "the").
            // The merge then creates NEW occurrences of that token, so
            // counts of existing pairs involving it can INCREASE — the
            // "counts never increase under a merge" dominance argument
            // behind the prefix accept no longer holds. End the round;
            // the next round's full recount restores exactness.
            if (fused(f)) stop = true
            fused += f
            used += f
          } else stop = true
        }
        // cut the round's replace chain so the next round's job does
        // not replay every prior round's replaces from the checkpoint
        v = v.localCheckpoint()
      }
    }
    (out.toSeq, rounds)
  }

  /** Apply a trained merge list: adds `out` = EXACT BPE token count
    * per row. Tokens = in-word spaces + word separators + 1 on the
    * fully-merged encoding; empty text counts 0.
    */
  def encode(
      df: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text",
      out: String = "n_bpe_tokens"): DataFrame = {
    val enc0 = concat_ws(W, transform(TextAnalysis.words(col(textCol)), wrapWord(_)))
    val encN = merges.foldLeft(enc0) { case (c, (a, b)) =>
      replace(c, lit(a + " " + b), lit(merged(a, b)))
    }
    df.withColumn(out,
      when(length(col(textCol)) === 0, lit(0L)).otherwise(
        (length(encN) - length(replace(encN, lit(" "), lit("")))).cast("long") +
          (length(encN) - length(replace(encN, lit(W), lit("")))).cast("long") + 1L))
  }
}
