package graft.functions

import java.nio.ByteBuffer
import java.util.Comparator

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Grouped top-k as a bounded-heap TypedImperativeAggregate: per group,
  * keep the k rows with the largest `ord` (ties broken by smallest `id`),
  * emitted as array<struct<ord:double, id:long>> in rank order.
  *
  * This is the scale-first alternative to the usual
  * `row_number() OVER (PARTITION BY g ORDER BY ord DESC) <= k` pattern:
  * the window form shuffles EVERY row of the table and sorts whole
  * partitions before discarding all but k rows per group, while this
  * aggregate pre-reduces map-side — each map partition sends at most k
  * rows per group it saw — and holds O(k) memory per group regardless of
  * group size. At 100 TB (billions of rows, millions of groups) the
  * shuffle volume drops from |rows| to at most |groups|·k·|partitions-
  * touching-the-group|, and no partition-wide sort happens at all.
  * Same ladder rung (b) as [[BottomK]]: a custom aggregate where the
  * built-in composition (`slice(sort_array(collect_list(...)))`) cannot
  * bound memory.
  *
  * `id` must uniquely identify rows within a group (the usual primary
  * key); duplicate (ord, id) pairs would be collapsed by the buffer.
  * With `dedupIds`, an id may arrive several times and only its best
  * copy competes: the largest ord, where NaN loses to any number — the
  * `min(score)` per (group, id) of a smallest-first ranking, computed
  * inside the heap instead of by a grouping exchange before it. An
  * id's best copy is never displaced by a worse one, so partial heaps
  * merge to the top-k of the deduplicated stream.
  */
case class TopKPairs(
    ord: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    dedupIds: Boolean = false)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]]
  with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  // SQL-surface robustness: integral ord / narrower id coerce instead of
  // class-casting at eval time (result type inferred — AbstractDataType
  // itself is private[sql])
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  private def cmp: Comparator[(Double, Long)] = TopKPairs.RankOrder

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](cmp)

  private def add(buf: java.util.TreeSet[(Double, Long)],
      v: (Double, Long)): Unit =
    if (!dedupIds) addBounded(buf, v)
    else {
      // O(k) scan: the heap holds at most k entries
      var same: (Double, Long) = null
      val it = buf.iterator()
      while (same == null && it.hasNext) {
        val e = it.next()
        if (e._2 == v._2) same = e
      }
      if (same == null) addBounded(buf, v)
      else if (!v._1.isNaN && (same._1.isNaN || v._1 > same._1)) {
        buf.remove(same); buf.add(v)
      }
    }

  private def addBounded(buf: java.util.TreeSet[(Double, Long)],
      v: (Double, Long)): Unit = {
    if (buf.size < k) buf.add(v)
    else if (cmp.compare(v, buf.last()) < 0) {
      buf.add(v); if (buf.size > k) buf.pollLast()
    }
  }

  override def update(buf: java.util.TreeSet[(Double, Long)],
      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null)
      add(buf, (o.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: java.util.TreeSet[(Double, Long)],
      other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (o, d) = it.next()
      arr(i) = new GenericInternalRow(Array[Any](o, d))
      i += 1
    }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val (o, d) = it.next(); bb.putDouble(o); bb.putLong(d) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKPairs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPairs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TopKPairs = copy(ord = c(0), id = c(1))
}

object TopKPairs {

  /** Validated SQL builder (same contract as [[BottomK.fromExprs]]):
    * `top_k_pairs(ord, id, k)` with k a foldable integral literal.
    */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 3)
      throw new IllegalArgumentException(
        s"top_k_pairs expects 3 arguments, got ${exprs.length}")
    if (!exprs(2).foldable)
      throw new IllegalArgumentException(
        "top_k_pairs: k must be a literal, not a column")
    val k = exprs(2).eval(InternalRow.empty) match {
      case i: Int                  => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short                => s.toInt
      case b: Byte                 => b.toInt
      case other => throw new IllegalArgumentException(
        s"top_k_pairs: k must be an integral literal, got $other")
    }
    TopKPairs(exprs.head, exprs(1), k).toAggregateExpression()
  }

  /** Rank order: larger ord first, then smaller id. A named serializable
    * object (not an anonymous class) because the aggregate expression —
    * comparator included — ships inside the task closure.
    */
  private[functions] object RankOrder
    extends Comparator[(Double, Long)] with Serializable {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Column-API entry: top-k (ord, id) pairs per group, rank order.
    * `ord` is cast to double and `id` to long by the caller as needed.
    */
  def topKPairs(ord: Column, id: Column, k: Int,
      dedupIds: Boolean = false): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      TopKPairs(ColumnBridge.expression(ord), ColumnBridge.expression(id), k,
        dedupIds = dedupIds).toAggregateExpression())
  }
}
