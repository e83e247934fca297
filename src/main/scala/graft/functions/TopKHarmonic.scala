package graft.functions

import graft.GraftConf

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Bounded top-K score buffer: the [[KBestHeap]] over doubles, keeping
  * the K largest (the smallest survivor sits at the root). Adding a
  * score is O(log K) and allocates nothing; the harmonic evaluation
  * sorts the ≤K survivors and folds Σ sᵢ/i² from the largest down with
  * [[HarmonicScore.fold]] — bit-identical to [[HarmonicScore]] over the
  * full multiset, since only the K largest values (by value, ties
  * interchangeable) contribute. NaNs are skipped; k must be ≥ 1.
  */
final class TopKBuffer(k: Int) extends KBestHeap(k) {
  HarmonicScore.requireTopK(k)
  val heap = new Array[Double](k + 1)

  protected def worse(i: Int, j: Int): Boolean = heap(i) < heap(j)
  protected def swap(i: Int, j: Int): Unit = {
    val t = heap(i); heap(i) = heap(j); heap(j) = t
  }

  def add(v: Double): Unit =
    if (!java.lang.Double.isNaN(v)) { heap(free) = v; offer() }

  /** The survivors, ascending. */
  def sorted: Array[Double] = {
    val out = java.util.Arrays.copyOf(heap, size)
    java.util.Arrays.sort(out)
    out
  }

  def harmonic(maxScore: Double): Any =
    if (size == 0) null else HarmonicScore.fold(sorted, size, size, maxScore)

  /** Byte layout: int k, int size, then the `size` survivors in slot
    * order.
    */
  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + size * 8)
    bb.putInt(k).putInt(size)
    var i = 0
    while (i < size) { bb.putDouble(heap(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.heap(i) = bb.getDouble(); i += 1 }
    buf.size = n
    buf
  }
}

/** The state, merge and codec that `topk_collect` and `topk_harmonic`
  * share: one [[TopKBuffer]] per group, merged by re-adding the other
  * side's survivors, serialized by [[TopKBuffer.toBytes]].
  */
abstract class TopKBufferAggregate extends TypedImperativeAggregate[TopKBuffer] {
  def k: Int

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def merge(buffer: TopKBuffer, input: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < input.size) { buffer.add(input.heap(i)); i += 1 }
    buffer
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.fromBytes(bytes)
}

/** Windowed cumulative harmonic score with O(K) state.
  *
  * Scoring semantics follow the reference's harmonic association sum
  * (/root/reference/timeseries.py:480–510): top-K=50 scores, Σ sᵢ/i²,
  * normalized by max_score.
  *
  * Used over a growing frame (`rowsBetween(unboundedPreceding,
  * currentRow)` ordered by year): Spark's unbounded-preceding frame
  * feeds each row into the buffer exactly once, so the cumulative
  * top-K is maintained incrementally — no per-year materialization of
  * the full cumulative score multiset (which is O(evidence-per-pair)
  * per row and quadratic across a pair's years; at 100 TB a prolific
  * pair would OOM that formulation, while this one carries 50 doubles).
  *
  * Input is the per-year score array from the map-side-combined
  * `topKCollect` aggregate ([[TopKCollect]]); nulls/NaNs are skipped like
  * [[HarmonicScore]], and a k below 1 is rejected as it is there.
  */
case class TopKHarmonic(
    child: Expression,
    k: Int = GraftConf.TopK,
    maxScore: Double = GraftConf.MaxScore,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TopKBufferAggregate with UnaryLike[Expression] {

  HarmonicScore.requireTopK(k)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "topk_harmonic"

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) buffer.add(arr.getDouble(i))
        i += 1
      }
    }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = buffer.harmonic(maxScore)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKHarmonic =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKHarmonic =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKHarmonic =
    copy(child = newChild)
}

object TopKHarmonic {
  /** Column form: cumulative harmonic score of the top-K values seen in
    * the window frame. Pair with
    * `Window.partitionBy(keys).orderBy(year).rowsBetween(unboundedPreceding, currentRow)`.
    */
  def topKHarmonic(
      scoresArray: Column,
      k: Int = GraftConf.TopK,
      maxScore: Double = GraftConf.MaxScore): Column =
    columnOf(TopKHarmonic(expressionOf(scoresArray), k, maxScore).toAggregateExpression())
}

/** Bounded top-K score collection: the partial-aggregating (map-side
  * combining) replacement for `collect_list` when only the K largest
  * values can matter downstream ([[TopKHarmonic]] consumes the
  * result, and top-K of a union equals top-K of the union of per-group
  * top-Ks — exact, not approximate). Aggregation state is the same
  * O(K) [[TopKBuffer]]; `collect_list` state is O(rows-per-group),
  * unbounded in evidence-per-year at 100 TB. Output is sorted
  * descending (deterministic). Nulls and NaNs are skipped, and a k
  * below 1 is rejected, like [[HarmonicScore]].
  */
case class TopKCollect(
    child: Expression,
    k: Int = GraftConf.TopK,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TopKBufferAggregate with UnaryLike[Expression] {

  HarmonicScore.requireTopK(k)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_collect"

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val asc = buffer.sorted
    val n = asc.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = asc(n - 1 - i); i += 1 }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKCollect =
    copy(child = newChild)
}

object TopKCollect {
  /** Column form: `groupBy(...).agg(topKCollect(col("score")))` — the
    * bounded-state stand-in for `collect_list(score)` feeding a top-K
    * consumer.
    */
  def topKCollect(score: Column, k: Int = GraftConf.TopK): Column =
    columnOf(TopKCollect(expressionOf(score.cast("double")), k).toAggregateExpression())
}
