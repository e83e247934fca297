package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftshim.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded (priority, id) survivor set: the [[KBestHeap]] keeping the
  * k SMALLEST (priority, id) pairs seen, lexicographically, so the
  * current worst is evicted in O(log k). With hash-derived uniform
  * priorities, the k smallest uniforms of a stratum are an exact-k
  * uniform sample of it — and "k smallest of a union = k smallest of
  * the union of per-partition k-smallest" makes the merge exact, so
  * partial (map-side) aggregation carries O(k) state per stratum per
  * task instead of the stratum's rows. k = 0 keeps nothing.
  */
final class PrioIdBuffer(k: Int) extends KBestHeap(k) {
  val prio = new Array[Double](k + 1)
  val ids = new Array[Long](k + 1)

  protected def worse(i: Int, j: Int): Boolean =
    prio(i) > prio(j) || (prio(i) == prio(j) && ids(i) > ids(j))

  protected def swap(i: Int, j: Int): Unit = {
    val tp = prio(i); prio(i) = prio(j); prio(j) = tp
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  def add(p: Double, id: Long): Unit =
    if (!java.lang.Double.isNaN(p)) { val s = free; prio(s) = p; ids(s) = id; offer() }
}

/** Exact-k-per-group uniform sampling as a bounded-state aggregate —
  * the "domain cap" primitive of web-corpus curation (cap every
  * source/domain at k documents so no stratum dominates the mix).
  *
  * `groupBy(stratum).agg(sampleIds(u, id, k))` replaces the
  * `row_number() OVER (PARTITION BY stratum ORDER BY u) <= k` window
  * formulation: the window ships every row of a Zipf-hot stratum into
  * ONE task and sorts it; this aggregate is map-side combined (O(k)
  * partial state) and shuffles one k-row buffer per task per stratum.
  * Output: the sampled ids sorted by (priority, id) ascending —
  * deterministic across runs, partitionings, and engines when the
  * priority is hash-derived.
  */
case class PriorityTopKIds(
    left: Expression,
    right: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PrioIdBuffer] with BinaryLike[Expression] {

  private def priority: Expression = left
  private def id: Expression = right

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "priority_topk_ids"

  override def createAggregationBuffer(): PrioIdBuffer = new PrioIdBuffer(k)

  override def update(buffer: PrioIdBuffer, input: InternalRow): PrioIdBuffer = {
    val p = priority.eval(input)
    val i = id.eval(input)
    if (p != null && i != null)
      buffer.add(p.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: PrioIdBuffer, input: PrioIdBuffer): PrioIdBuffer = {
    var i = 0
    while (i < input.size) { buffer.add(input.prio(i), input.ids(i)); i += 1 }
    buffer
  }

  override def eval(buffer: PrioIdBuffer): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buffer.ranked.map(i => buffer.ids(i)))

  override def serialize(buffer: PrioIdBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buffer.size * 16)
    bb.putInt(buffer.k).putInt(buffer.size)
    var i = 0
    while (i < buffer.size) { bb.putDouble(buffer.prio(i)); bb.putLong(buffer.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PrioIdBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new PrioIdBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.prio(i) = bb.getDouble(); buf.ids(i) = bb.getLong(); i += 1 }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PriorityTopKIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PriorityTopKIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PriorityTopKIds =
    copy(left = newLeft, right = newRight)
}

object PriorityTopKIds {
  /** Column form: the ids of the k smallest (priority, id) pairs per
    * group, ascending.
    */
  def sampleIds(priority: Column, id: Column, k: Int): Column =
    columnOf(PriorityTopKIds(
      expressionOf(priority.cast("double")),
      expressionOf(id.cast("long")), k).toAggregateExpression())
}
