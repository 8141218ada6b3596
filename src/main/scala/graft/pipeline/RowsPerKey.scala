package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Rows per (key, route) as ONE aggregate, however many keys it sees: the
  * keyed counter of the pipeline's `observe` taps, so a group of 2
  * partitions and one of 24 plan the same single expression. The buffer is
  * a (key, route) → rows hash map, merged across tasks by the observation's
  * accumulator; the result is a map keyed by `struct<key, route>`.
  *
  * A typed `Aggregator` through `udaf` counts the same, but Spark analyses
  * its encoders on every plan and decodes every row into Scala objects: in
  * one warm JVM (4-core host, 100k turns in 12 hour partitions) its two taps
  * added ~110 ms to a ~390 ms write, planning included; these add ~50 ms.
  */
case class RowsPerKey(left: Expression, right: Expression,
                      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[(Long, UTF8String), Long]]
    with BinaryLike[Expression] {
  private type Buf = mutable.HashMap[(Long, UTF8String), Long]
  override def prettyName: String = "rows_per_key"
  def nullable: Boolean = false
  def dataType: DataType = MapType(StructType(Seq(StructField("key", LongType, nullable = false),
    StructField("route", StringType, nullable = false))), LongType, valueContainsNull = false)

  def createAggregationBuffer(): Buf = mutable.HashMap.empty
  // a row's (key, route), evaluated by generated code
  @transient private lazy val keyRoute = UnsafeProjection.create(children)

  def update(b: Buf, row: InternalRow): Buf = {
    val kr = keyRoute(row)
    val k = (kr.getLong(0), kr.getUTF8String(1))
    if (b.contains(k)) b(k) += 1 else b((k._1, k._2.clone())) = 1L // the row's bytes are reused
    b
  }

  def merge(b: Buf, other: Buf): Buf = {
    other.foreach { case (k, n) => b(k) = b.getOrElse(k, 0L) + n }
    b
  }

  def eval(b: Buf): Any = ArrayBasedMapData(b, keyConverter = { case (k, r) => InternalRow(k, r) })

  def serialize(b: Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    b.foreach { case ((k, r), n) => out.writeLong(k); out.writeUTF(r.toString); out.writeLong(n) }
    bytes.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    while (in.available > 0) b((in.readLong(), UTF8String.fromString(in.readUTF()))) = in.readLong()
    b
  }

  def withNewMutableAggBufferOffset(n: Int): RowsPerKey = copy(mutableAggBufferOffset = n)
  def withNewInputAggBufferOffset(n: Int): RowsPerKey = copy(inputAggBufferOffset = n)
  protected def withNewChildrenInternal(l: Expression, r: Expression): RowsPerKey =
    copy(left = l, right = r)
}

object RowsPerKey {
  /** `rows_per_key(key, route)` as an aggregate column. */
  def of(key: Column, route: Column): Column = GraftBridge.column(RowsPerKey(
    GraftBridge.expression(key.cast(LongType)), GraftBridge.expression(route))
    .toAggregateExpression())
}
