package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Bounded-memory heavy-hitters aggregate (Misra–Gries summary) as a
 * `TypedImperativeAggregate` — the partial/merge-able sketch shape for
 * "top tokens over a 100 TB corpus" where a full `groupBy(token)` would
 * shuffle the whole vocabulary: each partition keeps at most `capacity`
 * counters regardless of cardinality, partials merge associatively, and
 * the guarantees are the standard MG ones —
 *
 *  - every item with true frequency > n/capacity survives;
 *  - each reported count undercounts by at most n/capacity;
 *  - when `capacity` ≥ distinct items, counts are EXACT (how the oracle
 *    checks it on the test corpus).
 *
 * Output: `ARRAY<STRUCT<tok STRING, n BIGINT>>` sorted by (n desc, tok).
 */
case class TopKSketch(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(capacity > 0, "capacity must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("tok", StringType), StructField("n", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** Misra–Gries update: insert, or decrement every counter when full. */
  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < capacity => buf.update(key, 1L)
        case None =>
          // decrement-all; drop zeros (amortized O(1) per update)
          val dead = mutable.ArrayBuffer.empty[String]
          buf.foreach { case (k, c) => if (c == 1) dead += k else buf.update(k, c - 1) }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  /** MG merge: sum counts, then subtract the (capacity+1)-th largest and
    * drop non-positive — the summary stays ≤ capacity with additive error
    * bounds preserved. */
  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (k, c) => buf.update(k, buf.getOrElse(k, 0L) + c) }
    if (buf.size > capacity) {
      val counts = buf.values.toArray.sorted(Ordering[Long].reverse)
      val cut    = counts(capacity) // (capacity+1)-th largest
      val dead   = mutable.ArrayBuffer.empty[String]
      buf.foreach { case (k, c) => if (c - cut <= 0) dead += k else buf.update(k, c - cut) }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (k, c) => (-c, k) }
    new GenericArrayData(sorted.map { case (k, c) =>
      InternalRow(UTF8String.fromString(k), c)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val b = k.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in  = new DataInputStream(new ByteArrayInputStream(bytes))
    val n   = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i   = 0
    while (i < n) {
      val len = in.readInt()
      val b   = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TopKSketch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, lit}

  /** Column form: `heavyHitters(col, capacity)` — routes through the
    * extension-registered `graft_topk` SQL function. */
  def heavyHitters(c: Column, capacity: Int): Column =
    call_function("graft_topk", c, lit(capacity))
}
