package org.apache.spark.sql.graftexpr

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded member-set aggregate: the distinct `id`s of a group, each
  * with its `isNew` flag (an id seen both ways is new), as
  * `array<struct<id,new>>` sorted by id — or NULL once the group holds
  * more than `cap` distinct ids. `cap <= 0` means unbounded.
  *
  * This is the hot-bucket guard of the incremental MinHash probe folded
  * into the grouping that collects each bucket's members: a
  * `TypedImperativeAggregate` takes part in partial aggregation, and a
  * buffer that passes the cap drops its members and keeps only the
  * over mark. A 10⁸-member bucket therefore costs O(cap) memory per
  * task and O(1) bytes in the shuffle, and is never collected whole.
  * The over mark is exact whatever the merge order: a partial buffer
  * goes over only when its own distinct ids pass the cap, so the result
  * is NULL iff the group's distinct ids do.
  */
final case class BoundedMemberSet(
    id: Expression,
    isNew: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[BoundedMemberSet.Members]
    with ImplicitCastInputTypes {

  import BoundedMemberSet.Members

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BooleanType)

  override def createAggregationBuffer(): Members = new Members

  private def add(buf: Members, i: Long, isNewId: Boolean): Unit =
    if (!buf.over) {
      if (buf.ids.contains(i)) { if (isNewId) buf.ids.update(i, true) }
      else if (cap > 0 && buf.ids.size >= cap) { buf.over = true; buf.ids.clear() }
      else buf.ids.update(i, isNewId)
    }

  override def update(buf: Members, input: InternalRow): Members = {
    val i = id.eval(input)
    val n = isNew.eval(input)
    if (i != null && n != null) add(buf, i.asInstanceOf[Long], n.asInstanceOf[Boolean])
    buf
  }

  override def merge(buf: Members, other: Members): Members = {
    if (other.over) { buf.over = true; buf.ids.clear() }
    else other.ids.foreachEntry((i, n) => add(buf, i, n))
    buf
  }

  override def eval(buf: Members): Any =
    if (buf.over) null
    else new GenericArrayData(buf.ids.toArray.sortBy(_._1).map { case (i, n) =>
      InternalRow(i, n)
    }.asInstanceOf[Array[Any]])

  override def serialize(buf: Members): Array[Byte] = {
    val bb = ByteBuffer.allocate(5 + 9 * buf.ids.size)
    bb.put((if (buf.over) 1 else 0).toByte).putInt(buf.ids.size)
    buf.ids.foreachEntry((i, n) => bb.putLong(i).put((if (n) 1 else 0).toByte))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Members = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    buf.over = bb.get() == 1
    val n = bb.getInt
    var k = 0
    while (k < n) { buf.ids.update(bb.getLong, bb.get() == 1); k += 1 }
    buf
  }

  override def children: Seq[Expression] = Seq(id, isNew)
  override def nullable: Boolean = true
  override def dataType: DataType = BoundedMemberSet.resultType
  override def prettyName: String = "bounded_member_set"

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedMemberSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedMemberSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BoundedMemberSet =
    copy(id = newChildren(0), isNew = newChildren(1))
}

object BoundedMemberSet {
  /** A group's members so far (id → new flag), or the over mark. */
  final class Members {
    var over: Boolean = false
    val ids: mutable.LongMap[Boolean] = mutable.LongMap.empty[Boolean]
  }

  val resultType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("new", BooleanType, nullable = false))),
    containsNull = false)
}
