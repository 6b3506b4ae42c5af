package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `graft_topk(score, id, k)` — bounded-heap per-group top-k aggregate,
  * built by the typed `graft.functions.topK` Column builder.
  *
  * Why a custom TypedImperativeAggregate (SURVEY.md §2.11 ladder, tier b):
  * the built-in way to take the top k rows per key is a rank window —
  * which SORTS every group in full — or `slice(sort_array(collect_list))`,
  * which buffers every row of the group in memory before truncating. Both
  * are O(group size) state. This aggregate keeps a k-bounded min-heap per
  * group, and because TypedImperativeAggregate participates in partial
  * aggregation, each map task ships AT MOST k entries per key: on an
  * N-candidate / P-partition top-k the shuffle drops from O(N) rows to
  * O(P·k) — the difference between shuffling a 100 TB candidate set and
  * shuffling kilobytes.
  *
  * Ordering: best = highest score, ties broken by LOWEST id — identical to
  * `row_number() OVER (ORDER BY score DESC, id ASC) <= k`, so results are
  * exactly the rank-window answer (and the DuckDB oracle's).
  *
  * Returns `array<struct<score double, id bigint>>` sorted best-first;
  * `posexplode` turns position+1 into the rank.
  */
case class GraftTopK(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  private lazy val k: Int = {
    val v = kExpr.eval(InternalRow.empty)
    require(v != null, "graft_topk: k must be a literal")
    v.asInstanceOf[Number].intValue
  }

  // PriorityQueue dequeues its MAX; rank "worse" as greater (lower score,
  // then higher id) so exceeding k pops the entry that can no longer be
  // in the top k
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan[(Double, Long)] { (a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.enqueue((s.asInstanceOf[Double], i.asInstanceOf[Long]))
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)])
      : mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { e =>
      buf.enqueue(e)
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val best = buf.toArray.sortBy { case (s, i) => (-s, i) }
    new GenericArrayData(best.map { case (s, i) =>
      InternalRow(s, i)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var j = 0
    while (j < n) {
      buf.enqueue((bb.getDouble, bb.getLong))
      j += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"
  override def children: Seq[Expression] = Seq(score, id, kExpr)

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftTopK =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}
