package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Per-group top-k as a custom aggregate — the §2.11 surface Spark's
  * built-ins don't cover as an AGGREGATE.
  *
  * The window formulation (`row_number() over (partition by g order by v
  * desc)` then `rn <= k`) shuffles and SORTS every row of every group; at
  * 100 TB that sort is the cost. [[TopKAgg]] is a
  * `TypedImperativeAggregate` holding a bounded k-element heap: map-side
  * partial aggregation reduces each partition to at most k entries PER
  * GROUP before the shuffle, merge combines heaps, and only k survivors
  * per group ever move. Result is IDENTICAL to the window formulation
  * (deterministic tiebreak: value desc, then id asc — law-tested in
  * ExtensionsSpec, oracle-gated via `q_topk_agg`).
  *
  * Reference analog: the dashboard's top-N search ranking
  * (`master_map2.html:304-370`) — re-expressed as a distributed aggregate
  * rather than a client-side sort.
  */
case class TopKAgg(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k >= 1, "top_k: k must be >= 1")

  // the heap's MAX element (per this ordering) is the WORST kept entry:
  // smallest value, then largest id — the eviction candidate. Values
  // compare as Spark's SQL sort does (NaN above every value, -0.0 equal
  // to 0.0), so the id tiebreak decides between the two zeros.
  private val worstFirst: Ordering[(Double, Long)] = (a, b) => {
    val byValue = SQLOrderingUtil.compareDoubles(b._1, a._1)
    if (byValue != 0) byValue else java.lang.Long.compare(a._2, b._2)
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  private def keeps(buf: mutable.PriorityQueue[(Double, Long)],
                    cand: (Double, Long)): Boolean =
    buf.size < k || worstFirst.lt(cand, buf.head)

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      val cand = (v.asInstanceOf[Double], id.asInstanceOf[Long])
      if (keeps(buf, cand)) {
        if (buf.size >= k) buf.dequeue()
        buf.enqueue(cand)
      }
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
                     other: mutable.PriorityQueue[(Double, Long)])
  : mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { cand =>
      if (keeps(buf, cand)) {
        if (buf.size >= k) buf.dequeue()
        buf.enqueue(cand)
      }
    }
    buf
  }

  /** Array of (value, id) structs, best first (value desc, id asc). */
  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any =
    new GenericArrayData(
      buf.toArray.sorted(worstFirst)
        .map(t => InternalRow(t._1, t._2): Any))

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (v, id) => bb.putDouble(v); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getDouble, bb.getLong)))
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def prettyName: String = "top_k"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
}

object TopK {
  /** Column API: `topK(value, id, k)` aggregate over doubles keyed by a
    * long id; value/id are cast so callers can pass any numeric column. */
  def topK(value: Column, id: Column, k: Int): Column = {
    val shim = org.apache.spark.sql.graftshim.ColumnInterop
    shim.column(TopKAgg(
      shim.expression(value.cast("double")),
      shim.expression(id.cast("bigint")), k).toAggregateExpression())
  }
}
