package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
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
  // smallest value, then largest id — the eviction candidate
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by(t => (-t._1, t._2))

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
      buf.toArray.sortBy(t => (-t._1, t._2))
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

/** Exact-BIGINT sibling of [[TopKAgg]]: the value ranks as a Long, never
  * a Double. Integer-exact ranking keys (BM25 scores, scaled lifts) above
  * 2^53 collapse to equal doubles under [[TopKAgg]]'s cast and the top-k
  * ordering can diverge from an exact-integer oracle; this variant keeps
  * the comparison in Long end to end. Same bounded-heap shape: map-side
  * partials of at most k entries per group, deterministic tiebreak
  * (value desc, then id asc). */
case class TopKLongAgg(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, Long)]] {

  require(k >= 1, "top_k_long: k must be >= 1")

  // heap max = WORST kept entry: smallest value, then largest id
  private val worstFirst: Ordering[(Long, Long)] =
    Ordering.by(t => (-t._1, t._2))

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  private def keeps(buf: mutable.PriorityQueue[(Long, Long)],
                    cand: (Long, Long)): Boolean =
    buf.size < k || worstFirst.lt(cand, buf.head)

  override def update(buf: mutable.PriorityQueue[(Long, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Long, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      val cand = (v.asInstanceOf[Long], id.asInstanceOf[Long])
      if (keeps(buf, cand)) {
        if (buf.size >= k) buf.dequeue()
        buf.enqueue(cand)
      }
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Long, Long)],
                     other: mutable.PriorityQueue[(Long, Long)])
  : mutable.PriorityQueue[(Long, Long)] = {
    other.foreach { cand =>
      if (keeps(buf, cand)) {
        if (buf.size >= k) buf.dequeue()
        buf.enqueue(cand)
      }
    }
    buf
  }

  /** Array of (value, id) structs, best first (value desc, id asc). */
  override def eval(buf: mutable.PriorityQueue[(Long, Long)]): Any =
    new GenericArrayData(
      buf.toArray.sortBy(t => (-t._1, t._2))
        .map(t => InternalRow(t._1, t._2): Any))

  override def serialize(buf: mutable.PriorityQueue[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (v, id) => bb.putLong(v); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getLong, bb.getLong)))
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", LongType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def prettyName: String = "top_k_long"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLongAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLongAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKLongAgg =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
}

/** [[TopKLongAgg]] carrying one inert Long PAYLOAD per entry: ordering is
  * still (value desc, id asc) — the payload never participates — but the
  * survivor rows come out of the aggregate WITH their payload, so a top-k
  * cut that needs extra columns (BM25's n_terms_hit) is ONE aggregation
  * instead of heap + join-back-to-the-scores (the join-back re-reads the
  * scored frame and forces it persisted; at 100 TB that is a second pass
  * over the scores, at bench scale it is an extra exchange + broadcast
  * per call site). Same bounded-heap shape and k-entry map-side partials.
  *
  * Payload nullability can NOT change which rows survive the cut: a row
  * with non-null (value, id) but NULL payload is kept with payload 0 (the
  * sentinel the join-back formulation's left join would have produced as
  * a coalesced null) — membership is decided by (value, id) alone. */
case class TopKLongPayloadAgg(
    valueExpr: Expression,
    idExpr: Expression,
    payloadExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, Long, Long)]] {

  require(k >= 1, "top_k_long_payload: k must be >= 1")

  // heap max = WORST kept entry: smallest value, then largest id
  private val worstFirst: Ordering[(Long, Long, Long)] =
    Ordering.by(t => (-t._1, t._2))

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, Long, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  private def keeps(buf: mutable.PriorityQueue[(Long, Long, Long)],
                    cand: (Long, Long, Long)): Boolean =
    buf.size < k || worstFirst.lt(cand, buf.head)

  private def add(buf: mutable.PriorityQueue[(Long, Long, Long)],
                  cand: (Long, Long, Long)): Unit =
    if (keeps(buf, cand)) {
      if (buf.size >= k) buf.dequeue()
      buf.enqueue(cand)
    }

  override def update(buf: mutable.PriorityQueue[(Long, Long, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Long, Long, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      // null payload -> sentinel 0, NOT a drop: the payload is inert in
      // the ordering, so its nullability must not change membership
      val p = payloadExpr.eval(input)
      add(buf, (v.asInstanceOf[Long], id.asInstanceOf[Long],
        if (p == null) 0L else p.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Long, Long, Long)],
                     other: mutable.PriorityQueue[(Long, Long, Long)])
  : mutable.PriorityQueue[(Long, Long, Long)] = {
    other.foreach(add(buf, _))
    buf
  }

  /** Array of (value, id, payload) structs, best first (value desc, id asc). */
  override def eval(buf: mutable.PriorityQueue[(Long, Long, Long)]): Any =
    new GenericArrayData(
      buf.toArray.sortBy(t => (-t._1, t._2))
        .map(t => InternalRow(t._1, t._2, t._3): Any))

  override def serialize(buf: mutable.PriorityQueue[(Long, Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 24)
    bb.putInt(buf.size)
    buf.foreach { case (v, id, p) => bb.putLong(v); bb.putLong(id); bb.putLong(p) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Long, Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getLong, bb.getLong, bb.getLong)))
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", LongType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("payload", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr, payloadExpr)
  override def prettyName: String = "top_k_long_payload"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLongPayloadAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLongPayloadAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKLongPayloadAgg =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1),
      payloadExpr = newChildren(2))
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

  /** Exact-integer variant: value ranks as BIGINT (no double cast, so
    * distinct keys above 2^53 still order exactly). */
  def topKLong(value: Column, id: Column, k: Int): Column = {
    val shim = org.apache.spark.sql.graftshim.ColumnInterop
    shim.column(TopKLongAgg(
      shim.expression(value.cast("bigint")),
      shim.expression(id.cast("bigint")), k).toAggregateExpression())
  }

  /** [[topKLong]] with one inert BIGINT payload carried per entry (never
    * compared) — the single-aggregation top-k cut for callers that need a
    * passenger column back out. A NULL payload comes out as 0 (the
    * `payload` field is non-nullable), so it cannot be told apart from a
    * real 0: callers whose payload may be NULL and may be 0 must carry a
    * NULL flag in the payload or join it back. */
  def topKLongPayload(value: Column, id: Column, payload: Column,
                      k: Int): Column = {
    val shim = org.apache.spark.sql.graftshim.ColumnInterop
    shim.column(TopKLongPayloadAgg(
      shim.expression(value.cast("bigint")),
      shim.expression(id.cast("bigint")),
      shim.expression(payload.cast("bigint")), k).toAggregateExpression())
  }
}
