package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitters sketch as a TypedImperativeAggregate — the
  * distributed top-k-frequent-items operator (Metwally et al., "Efficient
  * computation of frequent and top-k elements in data streams", ICDT'05).
  *
  * Returns the top `k` items as array<struct<item string, est bigint,
  * err bigint>> ordered by (est DESC, item ASC). Guarantees:
  *  - est is an upper bound on the true count; est - err a lower bound;
  *  - any item with true count > N/m (m = capacity) is present;
  *  - with m >= distinct-item count the sketch is EXACT (err = 0).
  *
  * Scale shape: constant-size state (m counters) per partition, partial
  * aggregation map-side, single merge reduce — top-k over 100 TB of
  * tokens without shuffling the full frequency table. */
case class SpaceSavingTopK(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, (Long, Long)]] {

  require(k > 0 && capacity >= k, s"need capacity >= k > 0; got k=$k m=$capacity")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(SpaceSavingTopK.entryType)
  override def prettyName: String = "spacesaving_topk"

  override def createAggregationBuffer(): mutable.HashMap[String, (Long, Long)] =
    mutable.HashMap.empty

  /** counters: item -> (est, err) */
  override def update(
      buf: mutable.HashMap[String, (Long, Long)],
      input: InternalRow): mutable.HashMap[String, (Long, Long)] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.toString, 1L, 0L)
    buf
  }

  override def merge(
      b1: mutable.HashMap[String, (Long, Long)],
      b2: mutable.HashMap[String, (Long, Long)]): mutable.HashMap[String, (Long, Long)] = {
    b2.foreach { case (item, (est, err)) => add(b1, item, est, err) }
    b1
  }

  private def add(buf: mutable.HashMap[String, (Long, Long)],
      item: String, est: Long, err: Long): Unit = {
    buf.get(item) match {
      case Some((e0, r0)) => buf.update(item, (e0 + est, r0 + err))
      case None if buf.size < capacity => buf.update(item, (est, err))
      case None =>
        // evict the minimum counter; the newcomer inherits its estimate
        // as error (the classic SpaceSaving replacement rule)
        val (minItem, (minEst, _)) = buf.minBy { case (i, (e, _)) => (e, i) }
        buf.remove(minItem)
        buf.update(item, (minEst + est, minEst + err))
    }
  }

  override def eval(buf: mutable.HashMap[String, (Long, Long)]): Any = {
    val top = buf.toSeq
      .sortBy { case (item, (est, _)) => (-est, item) }
      .take(k)
      .map { case (item, (est, err)) =>
        InternalRow(UTF8String.fromString(item),
          java.lang.Long.valueOf(est), java.lang.Long.valueOf(err))
      }
    new GenericArrayData(top.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, (Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, (est, err)) =>
      out.writeUTF(item); out.writeLong(est); out.writeLong(err)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, (Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, (Long, Long)]
    (1 to n).foreach { _ =>
      val item = in.readUTF(); val est = in.readLong(); val err = in.readLong()
      buf.update(item, (est, err))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingTopK =
    copy(child = newChildren.head)
}

object SpaceSavingTopK {
  val entryType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("err", LongType, nullable = false)))

  /** Aggregate Column: top-k frequent values of `c` with capacity m. */
  def spaceSavingTopK(c: Column, k: Int, capacity: Int): Column =
    ColumnBridge.column(
      SpaceSavingTopK(ColumnBridge.expression(c), k, capacity)
        .toAggregateExpression())
}
