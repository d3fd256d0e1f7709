package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Count-min sketch aggregate (Cormode & Muthukrishnan 2005): a
  * `depth × width` counter grid folded over a stream of item hashes in
  * ONE fixed-size aggregate buffer. Row `i` increments
  * `cell[i][((h*a_i + b_i) mod p) mod width]`; a point estimate for an
  * item is the MIN over rows of its `depth` cells, which can only
  * over-count (collisions add, never subtract) — the one-sided error
  * contract [[graft.operators.TextOps]]'s q177 gates.
  *
  * The buffer is `depth*width` longs (fixed size, independent of the
  * stream), `merge` is elementwise addition — the same mergeability
  * contract as [[MinHashAgg]] and the HLL sketches (q176): partial
  * aggregation works, daily sketches can be persisted and re-merged,
  * and at 100 TB the frequency table never materializes.
  *
  * The row-hash family is the Dedup affine-permutation family
  * (`(h*a_i + b_i) mod p`, p = 1e9+7) reduced mod `width`, so the
  * estimate side can recompute cell indices with plain built-in
  * arithmetic (`pmod`) — no scalar companion function needed.
  *
  * Why not Spark's built-in `count_min_sketch` (checked against Spark
  * 4.1.2): it returns an opaque serialized `binary` and Spark exposes
  * no function that reads its individual cells. q182's join-size
  * estimate is the row-wise inner product of two sketches' cell grids,
  * which needs the counters as an array.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mod: Long,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth > 0 && width > 0, "count-min sketch needs positive depth and width")

  override def prettyName: String = "count_min_agg"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // an empty group is a valid all-zero sketch, never null
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  private val as: Array[Long] = Array.tabulate(depth)(i => CountMinAgg.rowA(i))
  private val bs: Array[Long] = Array.tabulate(depth)(i => CountMinAgg.rowB(i))

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < depth) {
        val m = (h * as(i) + bs(i)) % mod
        val p = if (m < 0) m + mod else m
        buf(i * width + (p % width).toInt) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}

object CountMinAgg {
  /** Affine row-hash coefficients — the [[graft.operators.Dedup]]
    * permutation family continued past the MinHash slots (disjoint
    * constants so the two sketches never share a hash row).
    */
  def rowA(i: Int): Long = 131L + 2L * i
  def rowB(i: Int): Long = 977L + 5L * i

  /** `count_min_agg(hashCol)` as a Column aggregate returning the
    * flattened `depth*width` ARRAY<BIGINT> grid (row-major).
    */
  def countMinAgg(c: Column, depth: Int, width: Int, mod: Long): Column =
    GraftSqlBridge.toColumn(
      CountMinAgg(GraftSqlBridge.toExpression(c), depth, width, mod)
        .toAggregateExpression())
}
