package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native SpaceSaving heavy-hitter sketch (Metwally, Agrawal & El
  * Abbadi 2005) as a typed aggregate: at most `capacity` counters
  * `key → (est, err)` folded over a stream of LONG keys. Update: a
  * tracked key increments `est`; an untracked key with room opens
  * `(1, 0)`; otherwise it REPLACES the minimum counter, inheriting its
  * estimate (`est = min+1, err = min`) — the classic eviction that
  * keeps, for every tracked key, `true ≤ est` and `est − err ≤ true`,
  * and guarantees any key with frequency > N/capacity is tracked.
  *
  * Merge is the parallel-SpaceSaving combine (Cafaro, Pulimeno &
  * Tempesta 2016): a key absent from one side contributes that side's
  * minimum counter (its tightest upper bound there — an untracked
  * key's true count can never exceed the minimum, else it would have
  * survived eviction) to BOTH `est` and `err`, then the union is cut
  * back to the top `capacity` by estimate. The per-key bound inflates
  * to Σᵢ Nᵢ/capacity = N/capacity across any partition tree — the
  * bound q199's oracle-checked contract gates — while the state stays
  * `capacity` counters per partial, which is what lets a 100 TB
  * frequency scan run as ordinary partial aggregation with O(1) state
  * (the exact groupBy it replaces shuffles the full key domain).
  *
  * Eviction scans the counter table for the minimum — O(capacity) per
  * untracked arrival. That is deliberate: `capacity` here is a small
  * constant (≤ a few thousand); the Stream-Summary linked-list that
  * makes eviction O(1) buys nothing at this size and costs a far
  * hairier merge. Min-est ties evict the LARGEST key (deterministic
  * within an execution; cross-merge-order determinism is not part of
  * the contract — only the order-independent invariants are).
  *
  * Output: flattened `[key, est, err]` triples sorted by
  * (est desc, err asc, key asc).
  *
  * Why not Spark's built-in `approx_top_k` (checked against Spark
  * 4.1.2): it returns only `array<struct<item, count>>`, with no per-key
  * error. q199's contract needs `err` per key — the `est − err ≤ true`
  * check and the `missed_heavy` count both read it — so the built-in
  * cannot state the bound the gate verifies.
  */
case class SpaceSavingAgg(
    child: Expression,
    capacity: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[(Long, Long)]] {

  require(capacity > 0, "space-saving sketch needs a positive capacity")

  override def prettyName: String = "space_saving_agg"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): mutable.LongMap[(Long, Long)] =
    mutable.LongMap.empty

  override def update(
      buf: mutable.LongMap[(Long, Long)],
      input: InternalRow): mutable.LongMap[(Long, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      buf.get(k) match {
        case Some((est, err)) => buf.update(k, (est + 1L, err))
        case None if buf.size < capacity => buf.update(k, (1L, 0L))
        case None =>
          var minKey = 0L
          var minEst = Long.MaxValue
          buf.foreachEntry { (key, v) =>
            if (v._1 < minEst || (v._1 == minEst && key > minKey)) {
              minEst = v._1; minKey = key
            }
          }
          buf.remove(minKey)
          buf.update(k, (minEst + 1L, minEst))
      }
    }
    buf
  }

  override def merge(
      b1: mutable.LongMap[(Long, Long)],
      b2: mutable.LongMap[(Long, Long)]): mutable.LongMap[(Long, Long)] = {
    // an EMPTY side is the identity (Spark merges untouched partials):
    // its floor is 0 and it contributes nothing
    if (b2.isEmpty) return b1
    if (b1.isEmpty) { b2.foreachEntry((k, v) => b1.update(k, v)); return b1 }
    def floor(b: mutable.LongMap[(Long, Long)]): Long =
      if (b.size < capacity) 0L else b.valuesIterator.map(_._1).min
    val f1 = floor(b1)
    val f2 = floor(b2)
    val out = mutable.LongMap.empty[(Long, Long)]
    b1.foreachEntry { (k, v1) =>
      val (e2, r2) = b2.getOrElse(k, (f2, f2))
      out.update(k, (v1._1 + e2, v1._2 + r2))
    }
    b2.foreachEntry { (k, v2) =>
      if (!b1.contains(k)) out.update(k, (v2._1 + f1, v2._2 + f1))
    }
    if (out.size <= capacity) out
    else {
      val kept = out.toSeq
        .sortBy { case (k, (est, err)) => (-est, err, k) }
        .take(capacity)
      mutable.LongMap.from(kept)
    }
  }

  override def eval(buf: mutable.LongMap[(Long, Long)]): Any = {
    val sorted = buf.toSeq.sortBy { case (k, (est, err)) => (-est, err, k) }
    val flat = new Array[Long](sorted.size * 3)
    var i = 0
    sorted.foreach { case (k, (est, err)) =>
      flat(i) = k; flat(i + 1) = est; flat(i + 2) = err; i += 3
    }
    new GenericArrayData(flat)
  }

  override def serialize(buf: mutable.LongMap[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 24 * buf.size)
    bb.putInt(buf.size)
    buf.foreachEntry { (k, v) => bb.putLong(k); bb.putLong(v._1); bb.putLong(v._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = mutable.LongMap.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      val k = bb.getLong(); val est = bb.getLong(); val err = bb.getLong()
      buf.update(k, (est, err))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingAgg =
    copy(child = newChildren.head)
}

object SpaceSavingAgg {
  /** `space_saving_agg(keyCol)` as a Column aggregate returning the
    * flattened `[key, est, err]*` ARRAY<BIGINT> sorted by estimate.
    */
  def spaceSavingAgg(c: Column, capacity: Int): Column =
    GraftSqlBridge.toColumn(
      SpaceSavingAgg(GraftSqlBridge.toExpression(c), capacity)
        .toAggregateExpression())
}
