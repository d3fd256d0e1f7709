package graft

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.CompactSketch

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ThetaInBounds.thetaInBounds

/** Spark's built-in theta functions (`theta_sketch_agg`,
  * `theta_union_agg`, `theta_intersection`, `theta_union`,
  * `theta_difference`) as q215, q216 and q228 use them, plus graft's
  * [[graft.functions.ThetaInBounds]] check. Pins (1) exact-mode
  * equality below nominal entries, (2) the determinism the oracle's
  * hash gate needs — identical sketch BYTES across partitionings
  * (canonical k-smallest-hash cutback, a pure function of the input
  * set), (3) estimation-mode bound coverage for |A|, |A∩B|, |A∪B|,
  * |A∖B| on sets with known overlap, (4) the empty-input / disjoint
  * edge cases, and (5) union-merge of per-group sketches == the direct
  * sketch. A Spark upgrade that changes any of these shows up here
  * before it shows up in the queries.
  */
class ThetaSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def est(bytes: Array[Byte]): Double =
    CompactSketch.heapify(Memory.wrap(bytes)).getEstimate

  private def sketchOf(keys: Seq[Long], lgNom: Int, parts: Int): Array[Byte] = {
    import spark.implicits._
    spark.sparkContext.parallelize(keys, parts).toDF("k")
      .agg(theta_sketch_agg(col("k"), lgNom))
      .head.getAs[Array[Byte]](0)
  }

  test("exact mode: below nominal entries the estimate IS the distinct count") {
    val bytes = sketchOf(Seq(1L, 2L, 3L, 2L, 1L, 7L), lgNom = 5, parts = 3)
    assert(est(bytes) == 4.0)
    val sk = CompactSketch.heapify(Memory.wrap(bytes))
    assert(!sk.isEstimationMode)
  }

  test("sketch bytes are a pure function of the input set (partitioning-proof)") {
    val keys = (1L to 5000L).map(i => i % 1361) // dupes + order variety
    val a = sketchOf(keys, lgNom = 5, parts = 1)
    val b = sketchOf(keys.reverse, lgNom = 5, parts = 13)
    assert(a.sameElements(b),
      "theta result must be canonical (k smallest hashes) regardless of order/partitioning")
    assert(CompactSketch.heapify(Memory.wrap(a)).isEstimationMode)
  }

  test("estimation mode: 3σ bounds cover |A|, |A∩B|, |A∪B|, |A∖B|") {
    import spark.implicits._
    // A = [0, 4000), B = [3000, 8000): |A|=4000 |B|=5000 |A∩B|=1000
    // |A∪B|=8000 |A∖B|=3000
    val df = (0L until 8000L).map(k =>
        (k, k < 4000L, k >= 3000L)).toDF("k", "in_a", "in_b")
      .repartition(7)
      .agg(
        theta_sketch_agg(when(col("in_a"), col("k")), 5).as("sa"),
        theta_sketch_agg(when(col("in_b"), col("k")), 5).as("sb"))
      .select(
        thetaInBounds(col("sa"), lit(4000L), 3).as("a_ok"),
        thetaInBounds(col("sb"), lit(5000L), 3).as("b_ok"),
        thetaInBounds(theta_intersection(col("sa"), col("sb")), lit(1000L), 3)
          .as("i_ok"),
        thetaInBounds(theta_union(col("sa"), col("sb")), lit(8000L), 3)
          .as("u_ok"),
        thetaInBounds(theta_difference(col("sa"), col("sb")), lit(3000L), 3)
          .as("d_ok"))
    val r = df.head
    assert((0 until 5).forall(r.getBoolean), r.toString)
  }

  test("empty and disjoint edges: empty sketch bounds are [0,0]; disjoint ∩ is 0") {
    import spark.implicits._
    val df = Seq((1L, true), (2L, true)).toDF("k", "in_a")
      .agg(
        theta_sketch_agg(when(col("in_a"), col("k")), 5).as("sa"),
        // no row sets in_b: this side aggregates zero keys
        theta_sketch_agg(when(!col("in_a"), col("k")), 5).as("sb"))
      .select(
        thetaInBounds(col("sb"), lit(0L), 3).as("empty_ok"),
        thetaInBounds(theta_intersection(col("sa"), col("sb")), lit(0L), 3)
          .as("disjoint_ok"),
        theta_intersection(col("sa"), col("sb")).as("inter"),
        col("sb"))
    val r = df.head
    // an empty group is a sketch, not a null, and its bounds are [0, 0]
    assert(!r.isNullAt(3))
    val empty = CompactSketch.heapify(Memory.wrap(r.getAs[Array[Byte]]("sb")))
    assert(empty.getLowerBound(3) == 0.0 && empty.getUpperBound(3) == 0.0)
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(est(r.getAs[Array[Byte]]("inter")) == 0.0)
  }

  test("merge-agg of per-group sketches == direct sketch of the raw keys") {
    import spark.implicits._
    // 40 groups, overlapping key ranges, enough keys for estimation mode
    val rows = (0 until 40).flatMap(g =>
      (0 until 200).map(i => (g.toLong, (g * 150 + i * 7).toLong)))
    val df = rows.toDF("g", "k")
    val direct = df.agg(theta_sketch_agg(col("k"), 6).as("s"))
      .head.getAs[Array[Byte]]("s")
    val merged = df.groupBy(col("g"))
      .agg(theta_sketch_agg(col("k"), 6).as("s"))
      .agg(theta_union_agg(col("s"), 6).as("m"))
      .head.getAs[Array[Byte]]("m")
    // canonical cutback: the union of per-group sketches is bit-equal
    // to sketching the union's raw keys — the property that makes a
    // persisted sketch table answer any coarser rollup (q228)
    assert(java.util.Arrays.equals(direct, merged))
    // and across partitionings of the sketch rows
    val merged13 = df.groupBy(col("g"))
      .agg(theta_sketch_agg(col("k"), 6).as("s"))
      .repartition(13)
      .agg(theta_union_agg(col("s"), 6).as("m"))
      .head.getAs[Array[Byte]]("m")
    assert(java.util.Arrays.equals(direct, merged13))
  }
}
