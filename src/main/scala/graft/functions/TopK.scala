package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded-state top-k aggregate: the largest `k` LONG values of each
  * group as a DESC-sorted array.
  *
  * Rationale (SURVEY.md §7.5 / builder preference order (b)): the
  * composable formulation — `slice(reverse(array_sort(collect_list(x))),
  * 1, k)` — buffers EVERY group member. On a hot key (one group holding a
  * large share of 100 TB) collect_list's unbounded buffer is an executor
  * OOM; this aggregate's state is a k-element heap regardless of group
  * size, and it partial-aggregates map-side like any built-in (each scan
  * task sends at most k values per group to the exchange).
  *
  * Nulls are skipped (SQL aggregate convention); an all-null/empty group
  * yields an empty array, never null.
  */
case class TopKLongs(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[Long]]
  with UnaryLike[Expression] {

  require(k > 0, s"topk_longs needs k > 0, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_longs expects a BIGINT argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_longs"

  // reverse ordering => dequeue() removes the SMALLEST kept value, so the
  // heap always holds the k largest seen
  override def createAggregationBuffer(): mutable.PriorityQueue[Long] =
    mutable.PriorityQueue.empty[Long](Ordering.Long.reverse)

  private def add(buf: mutable.PriorityQueue[Long], v: Long): Unit = {
    if (buf.size < k) buf += v
    else if (v > buf.head) { buf.dequeue(); buf += v }
  }

  override def update(buf: mutable.PriorityQueue[Long],
      input: InternalRow): mutable.PriorityQueue[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.PriorityQueue[Long],
      other: mutable.PriorityQueue[Long]): mutable.PriorityQueue[Long] = {
    other.foreach(add(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[Long]): Any =
    new GenericArrayData(buf.toArray.sorted(Ordering.Long.reverse))

  override def serialize(buf: mutable.PriorityQueue[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.size)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[Long] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) buf += bb.getLong
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKLongs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKLongs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): TopKLongs =
    copy(child = newChild)
}

/** Registry builder + Column API (same pattern as [[VectorFunctions]]). */
object TopKFunctions {

  /** Registry builder for [[graft.plans.GraftExtensions.functions]]. The
    * `k` argument must be a foldable integer literal — k IS the state
    * bound, so a silently wrapped or runaway value defeats the point. */
  private[graft] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2,
      s"topk_longs(col, k) takes 2 arguments, got ${exprs.length}")
    require(exprs(1).foldable,
      "topk_longs k must be a literal (it bounds the aggregation state)")
    val k = exprs(1).eval(null) match {
      case i: Int => i
      case l: Long => java.lang.Math.toIntExact(l) // throws on overflow
      case other => throw new IllegalArgumentException(
        s"topk_longs k must be an integer literal, got $other")
    }
    TopKLongs(exprs.head, k)
  }

  /** topk_longs(col, k) — the analyzing session needs the extension or
    * [[graft.Session.install]]. */
  def topkLongs(col: Column, k: Int): Column =
    call_function("topk_longs", col, org.apache.spark.sql.functions.lit(k))
}
