package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Deterministic mergeable quantile summary (the Manku–Rajagopalan–
  * Lindsay 1998 collapse scheme, arranged KLL-style as one buffer per
  * weight level) over LONG values — the quantile sketch whose error
  * contract is a worst-case THEOREM, not a confidence interval.
  *
  * Randomized sketches (DataSketches KLL/REQ, t-digest) flip coins in
  * compaction, so their output is not a pure function of the input and
  * their bounds hold only with probability — both disqualifying for
  * this engine's bit-reproducible gate (contrast Spark's built-in
  * `theta_sketch_agg`, whose canonical cutback IS deterministic). Here
  * compaction keeps the ODD-indexed half of a sorted even-size buffer —
  * no randomness — and the state carries its own accumulated worst-case
  * rank-error bound:
  *
  *   - level l holds a sorted buffer of items with weight 2^l, at most
  *     `k` per level; inserts land in level 0;
  *   - a full level compacts: the even-size prefix promotes its
  *     odd-indexed items (weight doubled) to level l+1, one leftover
  *     item (odd sizes) stays put. For ANY value v the weighted count
  *     of items < v changes by at most 2^l per compaction, so the
  *     running `errBound += 2^l` is a valid bound on
  *     |r̂(v) − r(v)| for every v simultaneously — by induction over
  *     any partial-aggregation merge tree (merge = level-wise
  *     re-insert, bounds add);
  *   - total state is O(k · log(n/k)) longs; errBound grows as
  *     n·log₂(n/k)/(2k) — the MRL bound — and is REPORTED, so the
  *     contract check uses the sketch's own certificate, not an
  *     asymptotic formula.
  *
  * The answer to quantile φ is the smallest retained item whose
  * cumulative weight reaches t = max(1, ⌈φ·n⌉); its weighted rank is
  * within (top-level weight) of t and its TRUE rank within
  * errBound + maxWeight of t — the interval q217's gate checks
  * tie-aware (the q165 overlap trick).
  *
  * Output: flat ARRAY<BIGINT> `[n, errBound, maxWeight, v_φ1, v_φ2…]`.
  * The VALUES depend on the merge tree (deterministic per plan, not
  * canonical across partitionings) — so queries must gate on the
  * always-true bound contract and keep the values internal, exactly
  * the discipline the probabilistic sketches already follow.
  *
  * Why not Spark's built-in `kll_sketch_agg_*` / `kll_sketch_get_*`
  * (checked against Spark 4.1.2): KLL compacts by a random coin flip per
  * compaction, so it carries no deterministic rank certificate — its
  * error is a confidence statement, and the returned quantiles change
  * with the merge tree's coins. q217's gate checks a bound that must
  * hold on every run, which only this certificate-carrying state gives.
  */
case class MrlQuantileAgg(
    child: Expression,
    k: Int,
    ranks: Seq[Double],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MrlState] {

  require(k >= 4, "MRL summary needs a buffer capacity of at least 4")
  require(ranks.nonEmpty && ranks.forall(q => q > 0.0 && q <= 1.0),
    "quantile ranks must lie in (0, 1]")

  override def prettyName: String = "mrl_quantile_agg"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): MrlState = new MrlState(k)

  override def update(buf: MrlState, input: InternalRow): MrlState = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: MrlState, b2: MrlState): MrlState = { b1.absorb(b2); b1 }

  override def eval(buf: MrlState): Any = {
    val out = new Array[Long](3 + ranks.size)
    out(0) = buf.n
    out(1) = buf.errBound
    out(2) = buf.maxWeight
    val qs = buf.quantiles(ranks)
    var i = 0
    while (i < qs.length) { out(3 + i) = qs(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: MrlState): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): MrlState =
    MrlState.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MrlQuantileAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MrlQuantileAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MrlQuantileAgg =
    copy(child = newChildren.head)
}

object MrlQuantileAgg {
  /** `mrl_quantile_agg(valueCol)` as a Column aggregate returning the
    * flat `[n, errBound, maxWeight, v_φ…]` ARRAY<BIGINT>.
    */
  def mrlQuantileAgg(c: Column, k: Int, ranks: Seq[Double]): Column =
    GraftSqlBridge.toColumn(
      MrlQuantileAgg(GraftSqlBridge.toExpression(c), k, ranks)
        .toAggregateExpression())
}

/** Mutable MRL summary state: `levels(l)` is a sorted buffer of items
  * with weight 2^l (level 0 additionally buffers unsorted inserts up to
  * capacity). Compaction and merge are purely deterministic; see
  * [[MrlQuantileAgg]] for the error accounting.
  */
final class MrlState(val k: Int) {
  private[functions] val levels = ArrayBuffer[ArrayBuffer[Long]]()
  private var level0Sorted = true // level 0 buffers inserts lazily
  var n: Long = 0L
  var errBound: Long = 0L

  private def level(l: Int): ArrayBuffer[Long] = {
    while (levels.size <= l) levels += ArrayBuffer.empty[Long]
    levels(l)
  }

  def maxWeight: Long = {
    var top = 0
    var l = levels.size - 1
    while (l > 0 && top == 0) { if (levels(l).nonEmpty) top = l; l -= 1 }
    1L << top
  }

  def insert(v: Long): Unit = {
    n += 1
    val l0 = level(0)
    l0 += v
    level0Sorted = false
    if (l0.size >= k) compactLevel(0)
  }

  /** Compact level l: sort (level 0 only — higher levels stay sorted),
    * promote the odd-indexed items of the even-size prefix with doubled
    * weight, keep the odd-size leftover. Adds 2^l to the error bound.
    */
  private def compactLevel(l: Int): Unit = {
    val buf = level(l)
    if (l == 0 && !level0Sorted) { buf.sortInPlace(); level0Sorted = true }
    val even = buf.size - (buf.size % 2)
    if (even < 2) return // nothing to compact (size 0/1)
    val promoted = ArrayBuffer.tabulate(even / 2)(i => buf(2 * i + 1))
    val leftover = if (even < buf.size) Some(buf.last) else None
    buf.clear()
    leftover.foreach(buf += _)
    errBound += 1L << l
    mergeIntoLevel(l + 1, promoted)
  }

  /** Merge an already-sorted batch into level l, compacting on overflow. */
  private def mergeIntoLevel(l: Int, sorted: ArrayBuffer[Long]): Unit = {
    if (sorted.isEmpty) return
    val buf = level(l)
    if (l == 0 && !level0Sorted) { buf.sortInPlace(); level0Sorted = true }
    // two-pointer merge of two sorted runs
    val merged = new ArrayBuffer[Long](buf.size + sorted.size)
    var i = 0; var j = 0
    while (i < buf.size && j < sorted.size) {
      if (buf(i) <= sorted(j)) { merged += buf(i); i += 1 }
      else { merged += sorted(j); j += 1 }
    }
    while (i < buf.size) { merged += buf(i); i += 1 }
    while (j < sorted.size) { merged += sorted(j); j += 1 }
    buf.clear()
    buf ++= merged
    if (buf.size >= k) compactLevel(l)
  }

  /** Level-wise re-insert of another state (bounds add). */
  def absorb(other: MrlState): Unit = {
    n += other.n
    errBound += other.errBound
    var l = other.levels.size - 1
    while (l >= 1) {
      mergeIntoLevel(l, other.levels(l))
      l -= 1
    }
    if (other.levels.nonEmpty) {
      val o0 = other.levels(0).sortInPlace()
      mergeIntoLevel(0, o0)
    }
  }

  /** Smallest retained item whose cumulative weight reaches ⌈φ·n⌉, for
    * each φ. Total retained weight always equals n (compaction promotes
    * half the items at double weight — weight is conserved), so every
    * target is reachable. The weighted merge is shared by all ranks.
    */
  def quantiles(ranks: Seq[Double]): Array[Long] = {
    val out = new Array[Long](ranks.size)
    if (n == 0) return out
    if (!level0Sorted) { levels(0).sortInPlace(); level0Sorted = true }
    val weighted = ArrayBuffer[(Long, Long)]() // (item, weight)
    for (l <- levels.indices; v <- levels(l)) weighted += ((v, 1L << l))
    val sorted = weighted.sortBy(_._1)
    var r = 0
    while (r < ranks.size) {
      val t = math.max(1L, math.ceil(ranks(r) * n).toLong)
      var cum = 0L
      var i = 0
      var ans = sorted.last._1
      var done = false
      while (i < sorted.size && !done) {
        cum += sorted(i)._2
        if (cum >= t) { ans = sorted(i)._1; done = true }
        i += 1
      }
      out(r) = ans
      r += 1
    }
    out
  }

  def toBytes: Array[Byte] = {
    if (!level0Sorted && levels.nonEmpty) {
      levels(0).sortInPlace(); level0Sorted = true
    }
    val total = levels.map(_.size).sum
    val bb = ByteBuffer.allocate(4 + 8 + 8 + 4 + levels.size * 4 + total * 8)
    bb.putInt(k)
    bb.putLong(n)
    bb.putLong(errBound)
    bb.putInt(levels.size)
    levels.foreach { buf =>
      bb.putInt(buf.size)
      buf.foreach(bb.putLong)
    }
    bb.array()
  }
}

object MrlState {
  def fromBytes(bytes: Array[Byte]): MrlState = {
    val bb = ByteBuffer.wrap(bytes)
    val st = new MrlState(bb.getInt())
    st.n = bb.getLong()
    st.errBound = bb.getLong()
    val nLevels = bb.getInt()
    var l = 0
    while (l < nLevels) {
      val sz = bb.getInt()
      val buf = ArrayBuffer.fill(sz)(bb.getLong())
      st.levels += buf
      l += 1
    }
    st
  }
}
