package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Request data resolved on the driver and bound into a search plan BY
  * REFERENCE: a hash table from a key (a term, a query id) to the
  * array of values the request attaches to it (the query ids holding
  * that term, the query vectors under that id). [[RequestLookup]]
  * reads it once per row — one hash probe, whatever the size of the
  * request — and `explode` turns a hit into one row per value, which
  * is the inner join against a local relation it replaces, without
  * the relation: broadcasting a `LocalRelation` runs a job per search
  * (see ARCHITECTURE.md, "Request binding"), and inlining the values
  * as literals would compile new code per request.
  *
  * Keys and values are catalyst values of `keyType` / `valueType`
  * (`UTF8String` for strings, boxed primitives); values keep their
  * first-appearance order and repeat as often as they were given. */
final class RequestTable private (entries: java.util.HashMap[Any, ArrayData],
    val keyType: DataType, val dataType: ArrayType) extends Serializable {

  /** The values under `key`; empty for a null or absent key. */
  def get(key: Any): ArrayData =
    if (key == null) RequestTable.Empty
    else {
      val v = entries.get(key)
      if (v == null) RequestTable.Empty else v
    }

  override def toString: String = s"RequestTable(${entries.size} keys)"
}

object RequestTable {

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Group (key, value) pairs by key; null keys are dropped (they match
    * no row, as an equi-join's null key does). Values may be null. */
  def apply(pairs: Seq[(Any, Any)], keyType: DataType,
      valueType: DataType): RequestTable = {
    val grouped = new java.util.LinkedHashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    for ((k, v) <- pairs if k != null)
      grouped.computeIfAbsent(k, _ => scala.collection.mutable.ArrayBuffer.empty)
        .append(v)
    val entries = new java.util.HashMap[Any, ArrayData](grouped.size * 2)
    grouped.forEach((k, vs) => entries.put(k, new GenericArrayData(vs.toArray)))
    new RequestTable(entries, keyType, ArrayType(valueType, containsNull = true))
  }

  /** Column API: the array of values `table` holds under `key`. */
  def lookup(key: Column, table: RequestTable): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(RequestLookup(ColumnBridge.expression(key), table))
  }

  /** Column API: `value` bound by reference ([[BoundDouble]]). */
  def bound(value: Double): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(BoundDouble(value))
}

/** A double resolved from the data (a corpus size, a mean length) and
  * bound into the plan BY REFERENCE: a literal is inlined into the
  * generated source, so each new value would compile new code. Not
  * foldable, so the optimizer keeps it a leaf; the arithmetic around
  * it, and so every result bit, is the literal's. */
case class BoundDouble(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", Double.box(value), "java.lang.Double")
    ev.copy(code = code"double ${ev.value} = $ref.doubleValue();",
      isNull = FalseLiteral)
  }
}

/** See [[RequestTable]]. Never null: a null or absent key gives the
  * empty array, which `explode` drops. */
case class RequestLookup(key: Expression, table: RequestTable)
    extends UnaryExpression {

  override def child: Expression = key
  override def dataType: DataType = table.dataType
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (key.dataType == table.keyType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"request_lookup: key ${key.dataType.simpleString(10)} for a " +
          s"${table.keyType.simpleString(10)}-keyed $table")

  override def eval(input: InternalRow): Any = table.get(key.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("requestTable", table,
      classOf[RequestTable].getName)
    val k = key.genCode(ctx)
    val boxed =
      if (CodeGenerator.isPrimitiveType(key.dataType))
        s"${CodeGenerator.boxedType(key.dataType)}.valueOf(${k.value})"
      else k.value.toString
    ev.copy(code = code"""
      |${k.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $ref.get(${k.isNull} ? null : (Object) $boxed);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : RequestLookup = copy(key = newChild)
}
