package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bottom-k distinct long values per group as a TypedImperativeAggregate:
  * the buffer holds at most k values (a sorted set), so memory is O(k)
  * per group regardless of group size — unlike
  * `slice(sort_array(collect_set(x)), 1, k)`, whose buffer grows with
  * the whole distinct set before truncation. This is the bounded sketch
  * a winnowing fingerprint needs at 100 TB (ladder rung (b): custom
  * aggregate where the built-in composition can't bound memory).
  *
  * Output: array<long>, ascending, de-duplicated, length <= k.
  */
case class BottomK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[Long]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  private def add(buf: java.util.TreeSet[Long], v: Long): Unit = {
    if (buf.size < k) buf.add(v)
    else if (v < buf.last()) { buf.add(v); if (buf.size > k) buf.pollLast() }
  }

  override def update(buf: java.util.TreeSet[Long],
      input: InternalRow): java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[Long],
      other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BottomK = copy(child = c.head)
}

object BottomK {

  /** Validated SQL builder of `bottom_k` ([[graft.GraftExtensions]]):
    * k must be a foldable integral literal — a raw eval/cast would surface ClassCastException (BIGINT literal)
    * or an eval-on-unresolved crash (column reference) to SQL users.
    */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"bottom_k expects 2 arguments, got ${exprs.length}")
    if (!exprs(1).foldable)
      throw new IllegalArgumentException(
        "bottom_k: k must be a literal, not a column")
    val k = exprs(1).eval(InternalRow.empty) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"bottom_k: k must be an integral literal, got $other")
    }
    BottomK(exprs.head, k).toAggregateExpression()
  }

  /** Column-API entry point; wraps the aggregate directly (no
    * session-registry side effect). `spark` kept for signature
    * stability.
    */
  def bottomK(spark: SparkSession, c: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      BottomK(ColumnBridge.expression(c), k).toAggregateExpression())
  }
}
