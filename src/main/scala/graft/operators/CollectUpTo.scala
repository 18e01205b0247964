package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `collect_list(child)` while the group has at most `limit` rows, null
  * once it has more. Each partition keeps at most its share of the
  * limit, `ceil(limit / #partitions)` rows: one that holds more ships
  * only its row count and turns the result null, so the partial buffers
  * together never carry more than `limit + #partitions` rows into the
  * final merge, however large the input. The merge drops every row the
  * moment the counts sum past `limit`. A result can thus be null for a
  * skewed input of at most `limit` rows; the caller then treats the
  * input as big. The Slicer runs it next to its per-frame count+max, so
  * one action tells whether a frame fits on the driver and, if it does,
  * brings it there. Serialization follows Spark's own `Collect`: the
  * buffer travels as one UnsafeRow (count, rows). */
private[graft] case class CollectUpTo(
    child: Expression,
    limit: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CollectUpTo.Buffer] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "collect_up_to"

  /** Rows one partition may keep: its share of the limit (the whole
    * limit outside a task). */
  private def share: Long = Option(TaskContext.get()).fold(limit) { tc =>
    val parts = math.max(tc.numPartitions(), 1)
    limit / parts + (if (limit % parts > 0) 1 else 0)
  }

  override def createAggregationBuffer(): CollectUpTo.Buffer =
    new CollectUpTo.Buffer(0L, ArrayBuffer.empty, share)

  override def update(b: CollectUpTo.Buffer, input: InternalRow): CollectUpTo.Buffer = {
    b.n += 1
    if (b.rows != null) {
      if (b.n <= b.cap) b.rows += InternalRow.copyValue(child.eval(input))
      else b.rows = null
    }
    b
  }

  override def merge(b: CollectUpTo.Buffer, o: CollectUpTo.Buffer): CollectUpTo.Buffer = {
    b.n += o.n
    if (b.rows != null) {
      if (o.rows != null && b.n <= limit) b.rows ++= o.rows
      else b.rows = null
    }
    b
  }

  override def eval(b: CollectUpTo.Buffer): Any =
    if (b.rows == null) null else new GenericArrayData(b.rows.toArray)

  private lazy val projection =
    UnsafeProjection.create(Array[DataType](LongType, dataType))

  override def serialize(b: CollectUpTo.Buffer): Array[Byte] =
    projection(InternalRow(b.n, eval(b))).getBytes

  override def deserialize(bytes: Array[Byte]): CollectUpTo.Buffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val rows =
      if (row.isNullAt(1)) null
      else {
        val out = ArrayBuffer.empty[Any]
        row.getArray(1).foreach(child.dataType, (_, v) => out += InternalRow.copyValue(v))
        out
      }
    new CollectUpTo.Buffer(row.getLong(0), rows, limit)
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectUpTo =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectUpTo =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CollectUpTo =
    copy(child = c)
}

private[graft] object CollectUpTo {
  /** Rows seen so far and, until they pass `cap`, the rows. */
  final class Buffer(var n: Long, var rows: ArrayBuffer[Any], val cap: Long)
}
