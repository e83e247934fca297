package graft.plans

import graft.functions.KBestHeap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Bounded "top-k full rows per group" aggregate: keeps the k FIRST
  * rows under a sort order (direction + null placement mirror a
  * window's ORDER BY), as struct values — the execution payload of
  * [[RewriteWindowTopK]].
  *
  * A `row_number() OVER (PARTITION BY g ORDER BY o) <= k` filter ships
  * every row of a group into ONE task and sorts it — under Zipf, the
  * hottest group IS the corpus, with no map-side combine and no AQE
  * split. This aggregate carries O(k) state per group per task, is
  * map-side combined, and its merge ("k first of a union = k first of
  * the union of per-partition k-firsts") is exact. Ties beyond position
  * k are broken arbitrarily — exactly row_number's contract.
  */
case class TopKRowsCollect(
    left: Expression, // sort key
    right: Expression, // struct of the full child row
    k: Int,
    desc: Boolean,
    nullsFirst: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKRowsBuffer] with BinaryLike[Expression] {

  override def dataType: DataType = ArrayType(right.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk_rows"

  @transient private lazy val base = TypeUtils.getInterpretedOrdering(left.dataType)

  /** Window-order comparison: negative ⇒ x ranks before y. */
  @transient private lazy val cmpKeys: (Any, Any) => Int = (x, y) =>
    if (x == null && y == null) 0
    else if (x == null) { if (nullsFirst) -1 else 1 }
    else if (y == null) { if (nullsFirst) 1 else -1 }
    else {
      val c = base.compare(x, y)
      if (desc) -c else c
    }

  override def createAggregationBuffer(): TopKRowsBuffer = new TopKRowsBuffer(k, cmpKeys)

  override def update(buf: TopKRowsBuffer, input: InternalRow): TopKRowsBuffer = {
    val row = right.eval(input).asInstanceOf[InternalRow]
    if (row != null) buf.add(InternalRow.copyValue(left.eval(input)), row.copy())
    buf
  }

  override def merge(buf: TopKRowsBuffer, other: TopKRowsBuffer): TopKRowsBuffer = {
    var i = 0
    while (i < other.size) { buf.add(other.keys(i), other.rows(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKRowsBuffer): Any =
    new GenericArrayData(buf.ranked.map(i => buf.rows(i): Any))

  @transient private lazy val pairProj =
    UnsafeProjection.create(Array(left.dataType, right.dataType))

  override def serialize(buf: TopKRowsBuffer): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      val ur = pairProj(new GenericInternalRow(Array(buf.keys(i), buf.rows(i): Any)))
      dos.writeInt(ur.getSizeInBytes)
      dos.write(ur.getBytes)
      i += 1
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKRowsBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      val ur = new UnsafeRow(2)
      ur.pointTo(arr, len)
      // heap property is preserved by re-adding (n ≤ k, so no eviction)
      buf.add(InternalRow.copyValue(ur.get(0, left.dataType)),
        ur.get(1, right.dataType).asInstanceOf[InternalRow].copy())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKRowsCollect =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKRowsCollect =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKRowsCollect =
    copy(left = newLeft, right = newRight)
}

/** The [[graft.functions.KBestHeap]] behind [[TopKRowsCollect]]: the k
  * rows whose keys rank first under `cmpKeys` (negative ⇒ the first key
  * ranks before the second).
  */
final class TopKRowsBuffer(k: Int, cmpKeys: (Any, Any) => Int) extends KBestHeap(k) {
  val keys = new Array[Any](k + 1)
  val rows = new Array[InternalRow](k + 1)

  protected def worse(i: Int, j: Int): Boolean = cmpKeys(keys(i), keys(j)) > 0
  protected def swap(i: Int, j: Int): Unit = {
    val tk = keys(i); keys(i) = keys(j); keys(j) = tk
    val tr = rows(i); rows(i) = rows(j); rows(j) = tr
  }

  def add(key: Any, row: InternalRow): Unit = {
    val s = free
    keys(s) = key
    rows(s) = row
    offer()
  }
}

/** Optimizer rule: rewrite the Zipf-dangerous windowed top-k pattern
  *
  * {{{ Filter(row_number <= k, Window(row_number over (PARTITION BY g ORDER BY o), child)) }}}
  *
  * into a bounded-state aggregate + posexplode:
  *
  * {{{ Project(child.* , pos+1 AS rn, Generate(posexplode(topk), Aggregate(g, graft_topk_rows(o, struct(child.*), k), child))) }}}
  *
  * The window form sorts EVERY row of a group in one task (the
  * hottest group is the whole corpus under Zipf); the aggregate form
  * is map-side combined with O(k) state per task per group. Output
  * attributes keep their exprIds, so downstream plans are untouched;
  * ties beyond position k are arbitrary in both forms (row_number's
  * contract).
  *
  * Guards: exactly one window expression (a row_number), single
  * deterministic ORDER BY expression, non-empty PARTITION BY, batch
  * child, k ≤ 1000 (beyond that the heap state stops being "bounded"
  * in any useful sense). Disable with
  * `spark.graft.rewriteWindowTopK=false`, the rule's one setting.
  */
object RewriteWindowTopK extends Rule[LogicalPlan] with PredicateHelper {

  private val ConfKey = "spark.graft.rewriteWindowTopK"
  private val MaxK = 1000

  private def limitOf(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(r: Attribute, Literal(v: Int, IntegerType)) if r.semanticEquals(rn) => Some(v)
    case LessThan(r: Attribute, Literal(v: Int, IntegerType)) if r.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), r: Attribute) if r.semanticEquals(rn) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), r: Attribute) if r.semanticEquals(rn) => Some(v - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(ConfKey, "true").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond,
            Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
              WindowSpecDefinition(part, Seq(so), _)), _)), _, _, child, _))
          if part.nonEmpty && so.child.deterministic && !child.isStreaming =>
        val rn = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val ks = conjuncts.flatMap(limitOf(_, rn))
        if (ks.isEmpty || ks.min <= 0 || ks.min > MaxK) f
        else {
          val k = ks.min
          val rest = conjuncts.filter(limitOf(_, rn).isEmpty)
          val rowStruct = CreateStruct(child.output)
          val agg = TopKRowsCollect(so.child, rowStruct, k,
            desc = so.direction == Descending,
            nullsFirst = so.nullOrdering == NullsFirst)
          val aggAlias = Alias(agg.toAggregateExpression(), "__graft_topk")()
          val aggregate = Aggregate(part, Seq(aggAlias), child)
          val pos = AttributeReference("__graft_pos", IntegerType, nullable = false)()
          val rowAttr = AttributeReference("__graft_row", rowStruct.dataType,
            nullable = false)()
          val gen = Generate(PosExplode(aggAlias.toAttribute),
            unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
            generatorOutput = Seq(pos, rowAttr), aggregate)
          val cols = child.output.zipWithIndex.map { case (a, i) =>
            Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
              exprId = a.exprId, qualifier = a.qualifier)
          } :+ Alias(Add(pos, Literal(1)), alias.name)(exprId = alias.exprId)
          val project = Project(cols, gen)
          if (rest.isEmpty) project else Filter(rest.reduce(And), project)
        }
    }
  }
}
