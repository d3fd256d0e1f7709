package graft.ml

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The blocked ALS's two contracts below the pipeline: the per-entity
  * solve is the least-squares solution of its regularized normal
  * equation, and the fitted factors do not depend on the block count.
  */
class AlsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** x with A x = b by Gaussian elimination with partial pivoting. */
  private def gaussSolve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until k) {
      val piv = (c until k).maxBy(r => math.abs(a(r)(c)))
      val (tr, tb) = (a(c), b(c)); a(c) = a(piv); a(piv) = tr; b(c) = b(piv); b(piv) = tb
      for (r <- c + 1 until k) {
        val f = a(r)(c) / a(c)(c)
        for (q <- c until k) a(r)(q) -= f * a(c)(q)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](k)
    for (r <- k - 1 to 0 by -1)
      x(r) = (b(r) - (r + 1 until k).map(q => a(r)(q) * x(q)).sum) / a(r)(r)
    x
  }

  test("per-entity solve matches Gaussian elimination on the regularized normal equation") {
    val rnd = new scala.util.Random(7)
    val regParam = 0.015
    for (k <- Seq(1, 8, 64); n <- Seq(1, 3, 61)) {
      // the rated rows sit at scattered buffer rows, as after a gather
      val nRows = n + 5
      val y = Array.fill(nRows * k)(rnd.nextGaussian() / math.sqrt(k))
      val src = rnd.shuffle((0 until nRows).toVector).take(n).toArray
      val ratings = Array.fill(n)((1 + rnd.nextInt(5)).toFloat)
      val x = new Array[Double](k)
      new Als.Solver(k).solve(y, src, ratings, 0, n, regParam, x)

      val a = Array.tabulate(k, k) { (p, q) =>
        src.map(s => y(s * k + p) * y(s * k + q)).sum + (if (p == q) regParam * n else 0.0)
      }
      val b = Array.tabulate(k)(p => src.indices.map(t => y(src(t) * k + p) * ratings(t)).sum)
      val want = gaussSolve(a, b)
      val residual = (0 until k).map(p => math.abs((0 until k).map(q => a(p)(q) * x(q)).sum - b(p))).max
      val scale = b.map(math.abs).max + 1e-300
      assert(residual / scale < 1e-10, s"k=$k n=$n: relative residual ${residual / scale}")
      val err = x.indices.map(i => math.abs(x(i) - want(i))).max
      assert(err < 1e-8 * (1 + want.map(math.abs).max), s"k=$k n=$n: |x - x_gauss| = $err")
    }
  }

  test("factor tables are bit-identical at 1, 3 and 4 blocks") {
    import spark.implicits._
    // uneven activity: some users rate fewer than four items (the solve's
    // remainder path), and one pair is rated twice
    val rows = (for { u <- 0 until 40; i <- 0 until 30 if (u * 7 + i * 3) % 17 <= u % 5 }
      yield (u, i, (1 + (u * 11 + i * 13) % 5).toFloat)) :+ ((0, 0, 4.0f))
    assert(rows.groupBy(_._1).values.exists(_.size < 4))
    val train = rows.toDF("user", "item", "rating")
    def factors(nb: Int): (Seq[(Int, Seq[Int])], Seq[(Int, Seq[Int])]) = {
      val m = Als.fit(train, rank = 8, maxIter = 5, regParam = Recommender.RegParam,
        seed = Recommender.Seed, numBlocks = nb)
      def bits(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))
        .sortBy(_._1).toSeq
      try (bits(m.userFactors), bits(m.itemFactors)) finally m.unpersist()
    }
    val one = factors(1)
    assert(one._1.size === rows.map(_._1).distinct.size && one._2.size === rows.map(_._2).distinct.size)
    assert(one._1.forall(_._2.size == 8))
    for (nb <- Seq(3, 4)) {
      val got = factors(nb)
      assert(got._1.map(_._1) === one._1.map(_._1) && got._2.map(_._1) === one._2.map(_._1))
      val differ = got._1.zip(one._1).count(t => t._1 != t._2) + got._2.zip(one._2).count(t => t._1 != t._2)
      assert(differ === 0, s"$nb blocks: $differ factor rows differ from 1 block")
    }
  }
}
