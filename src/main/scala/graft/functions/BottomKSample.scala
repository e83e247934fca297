package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.{columnOf, expressionOf}
import org.apache.spark.sql.types._

/** Bounded (hash, value) survivor set: the [[KBestHeap]] keeping the k
  * SMALLEST pairs by lexicographic (hash, value), so the current worst
  * evicts in O(log k). k = 0 keeps nothing.
  */
final class BkBuffer(k: Int) extends KBestHeap(k) {
  val hs = new Array[Long](k + 1)
  val vs = new Array[Double](k + 1)

  protected def worse(i: Int, j: Int): Boolean =
    hs(i) > hs(j) || (hs(i) == hs(j) && vs(i) > vs(j))

  protected def swap(i: Int, j: Int): Unit = {
    val th = hs(i); hs(i) = hs(j); hs(j) = th
    val tv = vs(i); vs(i) = vs(j); vs(j) = tv
  }

  def add(h: Long, v: Double): Unit =
    if (!java.lang.Double.isNaN(v)) { val s = free; hs(s) = h; vs(s) = v; offer() }
}

/** Mergeable quantile SAMPLE: the k smallest (hash, value) pairs of a
  * group, hash = a uniform 60-bit digest of the row's unique key —
  * i.e. a deterministic uniform k-row sample (the KMV/bottom-k trick
  * pointed at quantiles instead of distincts). Unlike the KLL
  * compactor this state is a pure SET FUNCTION of the rows: k-smallest
  * of a union == k-smallest of the union of per-part k-smallests, so
  * ANY rollup path lands on the identical sample — store the array at
  * fine grain, explode + re-aggregate to any coarser grain, and an
  * external oracle replays it bit-for-bit with one ranked window
  * (q333). Needs no value range up front (the I20 histogram's gap) and
  * needs no merge-tree luck (the KLL's gap); rank error is the
  * sampling O(√(ln(1/δ)/k)) rather than KLL's O(1/k) — the two cover
  * each other.
  *
  * Scale: O(k) state per group, map-side combined; the shuffle
  * carries one ≤k-pair buffer per group per task, never the rows.
  */
case class BottomKSample(
    left: Expression,
    right: Expression,
    k: Int = BottomKSample.DefaultK,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BkBuffer] with BinaryLike[Expression] {

  private def hash: Expression = left
  private def value: Expression = right

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bottomk_sample"

  override def createAggregationBuffer(): BkBuffer = new BkBuffer(k)

  override def update(b: BkBuffer, in: InternalRow): BkBuffer = {
    val h = hash.eval(in)
    val v = value.eval(in)
    if (h != null && v != null)
      b.add(h.asInstanceOf[Long], v.asInstanceOf[Double])
    b
  }

  override def merge(b: BkBuffer, o: BkBuffer): BkBuffer = {
    var i = 0
    while (i < o.size) { b.add(o.hs(i), o.vs(i)); i += 1 }
    b
  }

  override def eval(b: BkBuffer): Any = {
    // ascending (h, v) — deterministic across runs and engines
    new GenericArrayData(b.ranked.map(i =>
      new GenericInternalRow(Array[Any](b.hs(i), b.vs(i))): Any))
  }

  override def serialize(b: BkBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + b.size * 16)
    bb.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putLong(b.hs(i)).putDouble(b.vs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BkBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new BkBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getLong(), bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomKSample =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKSample =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BottomKSample =
    copy(left = newLeft, right = newRight)
}

object BottomKSample {
  val DefaultK = 256

  /** The bottom-k sample of `value` keyed by `hash` (a long; derive it
    * from the row's UNIQUE key so the sample is uniform over rows —
    * e.g. [[bottomKHash]]). Output: array<struct<h,v>> ascending by
    * (h, v). Roll up by exploding stored arrays into this same
    * aggregate — the result is identical to sketching the union.
    */
  def bottomKSample(hash: Column, value: Column, k: Int = DefaultK): Column =
    columnOf(BottomKSample(expressionOf(hash),
      expressionOf(value.cast("double")), k).toAggregateExpression())

  /** 60-bit uniform hash of a row key — first 15 hex nibbles of
    * md5(key ":bk"), replayable in any engine with md5.
    */
  def bottomKHash(key: Column): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(concat(key.cast("string"), lit(":bk"))), 1, 15), 16, 10)
      .cast("long")
  }

  /** φ-quantile of a sample array (ascending (h,v) structs): value at
    * 1-based index max(1, ceil(φ·m)) of the value-sorted sample.
    */
  def sampleQuantile(sample: Column, phi: Double): Column = {
    import org.apache.spark.sql.functions._
    val values = array_sort(transform(sample, x => x.getField("v")))
    element_at(values,
      greatest(lit(1), ceil(lit(phi) * size(sample))).cast("int"))
  }
}
