package graft.expressions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter sketch as a mergeable
  * `TypedImperativeAggregate`: approximate top keys of a group with a
  * FIXED-SIZE buffer (`capacity` counters), composable across partitions.
  *
  * Why a sketch rather than an exact groupBy+limit: the exact form
  * shuffles one row per distinct key — at 100 TB a high-cardinality key
  * column (user id, URL host) makes that shuffle itself the problem this
  * diagnostic is trying to find. The sketch
  * keeps `capacity` counters per partition and merges them pairwise
  * (Agarwal et al., "Mergeable Summaries": sum counts, then subtract the
  * (capacity+1)-th largest and drop non-positives), so the full aggregation
  * is one fixed-size buffer per task — no key-cardinality shuffle at all.
  *
  * Guarantees (standard MG): every key with true count > N/(capacity+1) is
  * retained, and each reported count underestimates the true count by at
  * most N/(capacity+1). With `capacity` ≥ the number of distinct keys the
  * sketch never evicts and is EXACT and deterministic — which is how the
  * oracle gate exercises it; the approximate regime is property-tested.
  *
  * Output: the top `emitK` retained counters as
  * `array<struct<key: string, n: bigint>>`, sorted by (n desc, key asc).
  */
case class TopKSketch(
    child: Expression, capacity: Int, emitK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {
  require(capacity > 0 && emitK > 0 && emitK <= capacity,
    "topk_sketch: need 0 < emitK <= capacity")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", StringType), StructField("n", LongType))),
    containsNull = false)
  override def prettyName: String = "topk_sketch"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    // null is a key like any other (a null-heavy FK is the canonical hot
    // key this diagnostic exists to find — and the exact GROUP BY it
    // replaces keeps the NULL group); mutable.HashMap accepts null keys.
    val key = if (v == null) null else v.asInstanceOf[UTF8String].toString
    buf.get(key) match {
      case Some(c) => buf.update(key, c + 1)
      case None if buf.size < capacity => buf.update(key, 1L)
      case None => // classic MG: an unmatched arrival decrements everyone
        val dead = mutable.ArrayBuffer.empty[String]
        buf.foreach { case (k, c) => if (c == 1L) dead += k else buf.update(k, c - 1) }
        dead.foreach(buf.remove)
    }
    buf
  }

  /** Mergeable-summaries combine: sum counts keywise; if over capacity,
    * subtract the (capacity+1)-th largest count and drop non-positives. */
  override def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (k, c) => a.update(k, a.getOrElse(k, 0L) + c) }
    if (a.size > capacity) {
      val counts = a.values.toArray.sortInPlaceWith(_ > _)
      val t = counts(capacity) // (capacity+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      a.foreach { case (k, c) => if (c - t <= 0L) dead += k else a.update(k, c - t) }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // order: count desc, then key asc with null first (Spark's ASC
    // default; engines differ on null placement — a gate query over
    // null-keyed data would need an explicit NULLS clause in its oracle)
    val top = buf.toArray.sortWith { case ((k1, c1), (k2, c2)) =>
      if (c1 != c2) c1 > c2
      else if (k1 == null) k2 != null
      else k2 != null && k1 < k2
    }.take(emitK)
    new GenericArrayData(top.map { case (k, c) =>
      new GenericInternalRow(Array[Any](
        if (k == null) null else UTF8String.fromString(k), c))
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val keyBytes = entries.map { case (k, _) =>
      if (k == null) null else k.getBytes(StandardCharsets.UTF_8)
    }
    val bb = ByteBuffer.allocate(
      4 + keyBytes.map(kb => (if (kb == null) 0 else kb.length) + 12).sum)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      if (keyBytes(i) == null) bb.putInt(-1) // null-key marker
      else { bb.putInt(keyBytes(i).length); bb.put(keyBytes(i)) }
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt()
      val key = if (len < 0) null else {
        val kb = new Array[Byte](len)
        bb.get(kb)
        new String(kb, StandardCharsets.UTF_8)
      }
      buf.update(key, bb.getLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TopKSketch {
  /** Column-API surface: `topk_sketch(key, capacity, emitK)`. */
  def apply(key: Column, capacity: Int, emitK: Int): Column =
    Bridge.column(
      TopKSketch(Bridge.expression(key), capacity, emitK).toAggregateExpression())
}
