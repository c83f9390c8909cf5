package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.{toCol, toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitters sketch as a TypedImperativeAggregate:
  * approximate top-k frequent items in ONE pass with O(k) state per
  * partition — the frequent-token / hot-key primitive a 100 TB text
  * pipeline uses where an exact groupBy would shuffle every token.
  *
  * Guarantees (Metwally et al., SpaceSaving): any item with true
  * frequency > n/capacity is in the sketch; estimates overcount by at
  * most the recorded `err`. Buffers merge associatively (partial
  * aggregation / AQE safe). When distinct items ≤ capacity the result
  * is exact.
  */
case class HeavyHittersAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LinkedHashMap[UTF8String, (Long, Long)]] {

  type Buf = mutable.LinkedHashMap[UTF8String, (Long, Long)] // item -> (count, err)

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType),
    StructField("est_count", LongType),
    StructField("max_err", LongType))))

  override def createAggregationBuffer(): Buf = mutable.LinkedHashMap.empty

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val item = v.asInstanceOf[UTF8String]
    buf.get(item) match {
      case Some((c, e)) => buf.update(item, (c + 1, e))
      case None if buf.size < capacity => buf.update(item.clone(), (1L, 0L))
      case None =>
        // evict the current minimum; new item inherits its count as error
        val (minItem, (minC, _)) = buf.minBy(_._2._1)
        buf.remove(minItem)
        buf.update(item.clone(), (minC + 1, minC))
    }
    buf
  }

  /** Mergeable-summaries SpaceSaving merge (Agarwal et al.): an item
    * absent from one side may still have true count up to that side's
    * minimum estimate (only possible when that side is at capacity, i.e.
    * has evicted), so it contributes that minimum to BOTH count and err.
    * Truncating the combined sketch to top-capacity then preserves the
    * overcount bound; errors add across merges, so guarantees degrade to
    * εA+εB, never silently undercount. In the exact regime (neither side
    * ever evicted) the mins are 0 and the merge is exact.
    */
  override def merge(a: Buf, b: Buf): Buf = {
    val minA = if (a.size < capacity) 0L else a.valuesIterator.map(_._1).min
    val minB = if (b.size < capacity) 0L else b.valuesIterator.map(_._1).min
    b.foreach { case (item, (c, e)) =>
      a.get(item) match {
        case Some((c0, e0)) => a.update(item, (c0 + c, e0 + e))
        case None => a.update(item, (c + minA, e + minA))
      }
    }
    if (minB > 0) {
      a.mapValuesInPlace { case (item, (c, e)) =>
        if (b.contains(item)) (c, e) else (c + minB, e + minB)
      }
    }
    if (a.size > capacity) {
      val kept = a.toSeq.sortBy { case (it, (c, _)) => (-c, it.toString) }.take(capacity)
      a.clear()
      kept.foreach { case (it, ce) => a.update(it, ce) }
    }
    a
  }

  override def eval(buf: Buf): Any = {
    val rows = buf.toSeq
      .sortBy { case (it, (c, _)) => (-c, it.toString) }
      .map { case (it, (c, e)) =>
        InternalRow(it, java.lang.Long.valueOf(c), java.lang.Long.valueOf(e))
      }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (it, (c, e)) =>
      val bytes = it.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
      out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf: Buf = mutable.LinkedHashMap.empty
    (1 to n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), (in.readLong(), in.readLong()))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): HeavyHittersAgg =
    copy(child = cs.head)
}

object HeavyHitters {
  /** Column function: `heavy_hitters(col, k)` → array<struct<item,
    * est_count, max_err>> sorted by estimated count desc. */
  def heavyHitters(c: Column, k: Int): Column =
    toCol(HeavyHittersAgg(toExpr(c), k).toAggregateExpression())
}
