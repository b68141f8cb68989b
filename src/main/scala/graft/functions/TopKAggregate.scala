package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact per-group top-k as a one-pass aggregate — the shape that
  * replaces the `row_number() OVER (PARTITION BY g ORDER BY s) <= k`
  * window for "top k per group" at scale. The window formulation
  * shuffles and sorts EVERY row of the fact table; this aggregate keeps
  * a k-bounded buffer per group on the map side, so the shuffle carries
  * at most k pairs per (partition, group) — the difference between
  * moving 100 TB and moving megabytes. Spark ships no built-in exact
  * top-k aggregate (`max_by(x, y, k)` keeps only scores' argmax rows
  * without the total-order dedup semantics needed here), hence the
  * custom [[TypedImperativeAggregate]].
  *
  * Semantics: rank by (score DESC, id ASC) — an exact total order, so
  * the result is independent of row and partial-merge order (the
  * determinism requirement every oracle-checked query carries). Nulls
  * in either child are skipped. Output is the rank-ordered
  * array<struct<score:bigint, id:bigint>>.
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[(Long, Long)]] {

  private type Buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", LongType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  // (score DESC, id ASC): the exact total order that makes the result
  // independent of update/merge order
  private def lt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def trim(buf: Buf): Buf = {
    if (buf.length > k) {
      val kept = buf.sortWith(lt).take(k)
      buf.clear()
      buf ++= kept
    }
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf += ((s.asInstanceOf[Number].longValue, i.asInstanceOf[Number].longValue))
      // amortize the sort: only compact once the buffer outgrows 4k
      if (buf.length > 4 * k) trim(buf)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    buf ++= other
    trim(buf)
  }

  override def eval(buf: Buf): Any = {
    val top = buf.sortWith(lt).take(k)
    new GenericArrayData(top.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val top = trim(buf)
    val bb = ByteBuffer.allocate(4 + 16 * top.length)
    bb.putInt(top.length)
    top.foreach { case (s, i) => bb.putLong(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var j = 0
    while (j < n) { buf += ((bb.getLong, bb.getLong)); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "graft_topk"
}
