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
    for (k <- Seq(1, 8, 10, 64); n <- Seq(1, 3, 61)) {
      // the rated rows sit at scattered buffer rows, as after a gather
      val nRows = n + 5
      val y = Array.fill(nRows, k)(rnd.nextGaussian() / math.sqrt(k))
      val src = rnd.shuffle((0 until nRows).toVector).take(n).toArray
      val ratings = Array.fill(n)((1 + rnd.nextInt(5)).toFloat)
      val x = new Array[Double](k)
      new Als.Solver(k).solve(y, src, ratings, 0, n, regParam, x)

      val a = Array.tabulate(k, k) { (p, q) =>
        src.map(s => y(s)(p) * y(s)(q)).sum + (if (p == q) regParam * n else 0.0)
      }
      val b = Array.tabulate(k)(p => src.indices.map(t => y(src(t))(p) * ratings(t)).sum)
      val want = gaussSolve(a, b)
      val residual = (0 until k).map(p => math.abs((0 until k).map(q => a(p)(q) * x(q)).sum - b(p))).max
      val scale = b.map(math.abs).max + 1e-300
      assert(residual / scale < 1e-10, s"k=$k n=$n: relative residual ${residual / scale}")
      val err = x.indices.map(i => math.abs(x(i) - want(i))).max
      assert(err < 1e-8 * (1 + want.map(math.abs).max), s"k=$k n=$n: |x - x_gauss| = $err")
    }
  }

  test("per-entity solve is bit-identical to the flat-buffer reference solve") {
    // k = 10 ends the Cholesky on a two-row block; n = 4 and 61 take the
    // four-rating path, n = 1, 3 and 61 the one-rating remainder
    val rnd = new scala.util.Random(11)
    val regParam = 0.015
    for (k <- Seq(1, 8, 10, 64); n <- Seq(1, 3, 4, 61)) {
      val nRows = n + 5
      val y = Array.fill(nRows, k)(rnd.nextGaussian() / math.sqrt(k))
      val src = rnd.shuffle((0 until nRows).toVector).take(n).toArray
      val ratings = Array.fill(n)((1 + rnd.nextInt(5)).toFloat)
      val got = new Array[Double](k); val want = new Array[Double](k)
      new Als.Solver(k).solve(y, src, ratings, 0, n, regParam, got)
      new AlsSpec.FlatSolver(k).solve(y.flatten, src, ratings, 0, n, regParam, want)
      val differ = (0 until k).count(i =>
        java.lang.Double.doubleToRawLongBits(got(i)) != java.lang.Double.doubleToRawLongBits(want(i)))
      assert(differ === 0, s"k=$k n=$n: $differ of $k coordinates differ from the flat-buffer solve")
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

object AlsSpec {

  /** The per-entity solve as it was over flat row-major buffers (`y` with
    * k columns, the normal matrix and its factor in one k·k array): the
    * reference the row-per-array [[Als.Solver]] must match bit for bit.
    */
  final class FlatSolver(k: Int) {
    private val a = new Array[Double](k * k)
    private val b = new Array[Double](k)
    private val w = new Array[Double](4 * k)

    def solve(y: Array[Double], src: Array[Int], ratings: Array[Float], from: Int, until: Int,
        regParam: Double, x: Array[Double]): Unit = {
      java.util.Arrays.fill(a, 0.0); java.util.Arrays.fill(b, 0.0)
      val (k1, k2, k3) = (k, 2 * k, 3 * k)
      var p = from
      while (p + 3 < until) {
        System.arraycopy(y, src(p) * k, w, 0, k); System.arraycopy(y, src(p + 1) * k, w, k1, k)
        System.arraycopy(y, src(p + 2) * k, w, k2, k); System.arraycopy(y, src(p + 3) * k, w, k3, k)
        val r0 = ratings(p).toDouble; val r1 = ratings(p + 1).toDouble
        val r2 = ratings(p + 2).toDouble; val r3 = ratings(p + 3).toDouble
        var i = 0
        while (i < k) {
          val c0 = w(i); val c1 = w(k1 + i); val c2 = w(k2 + i); val c3 = w(k3 + i)
          b(i) += c0 * r0 + c1 * r1 + c2 * r2 + c3 * r3
          val row = i * k
          var j = i
          while (j < k) {
            a(row + j) += c0 * w(j) + c1 * w(k1 + j) + c2 * w(k2 + j) + c3 * w(k3 + j)
            j += 1
          }
          i += 1
        }
        p += 4
      }
      while (p < until) {
        val o = src(p) * k; val r = ratings(p).toDouble
        var i = 0
        while (i < k) {
          val c = y(o + i)
          b(i) += c * r
          val row = i * k
          var j = i
          while (j < k) { a(row + j) += c * y(o + j); j += 1 }
          i += 1
        }
        p += 1
      }
      val lambda = regParam * (until - from)
      var i = 0
      while (i < k) { a(i * k + i) += lambda; i += 1 }
      cholesky()
      i = 0
      while (i < k) {
        val row = i * k; val z = b(i) / a(row + i); b(i) = z
        var j = i + 1
        while (j < k) { b(j) -= a(row + j) * z; j += 1 }
        i += 1
      }
      i = k - 1
      while (i >= 0) {
        val row = i * k; var s = b(i)
        var j = i + 1
        while (j < k) { s -= a(row + j) * x(j); j += 1 }
        x(i) = s / a(row + i)
        i -= 1
      }
    }

    private def cholesky(): Unit = {
      var lo = 0
      while (lo < k) {
        val hi = math.min(lo + 4, k)
        var i = lo
        while (i < hi) {
          val row = i * k
          val d = a(row + i)
          if (!(d > 0)) throw new ArithmeticException(s"ALS normal equation is not positive definite (pivot $d)")
          val s = math.sqrt(d)
          a(row + i) = s
          var j = i + 1
          while (j < k) { a(row + j) /= s; j += 1 }
          var p = i + 1
          while (p < hi) { update(i, p); p += 1 }
          i += 1
        }
        if (hi - lo == 4) {
          val (r0, r1, r2, r3) = (lo * k, lo * k + k, lo * k + 2 * k, lo * k + 3 * k)
          var p = hi
          while (p < k) {
            val u0 = a(r0 + p); val u1 = a(r1 + p); val u2 = a(r2 + p); val u3 = a(r3 + p)
            val rowp = p * k
            var q = p
            while (q < k) {
              a(rowp + q) -= u0 * a(r0 + q) + u1 * a(r1 + q) + u2 * a(r2 + q) + u3 * a(r3 + q)
              q += 1
            }
            p += 1
          }
        } else {
          for (t <- lo until hi; p <- hi until k) update(t, p)
        }
        lo = hi
      }
    }

    private def update(t: Int, p: Int): Unit = {
      val rowt = t * k; val u = a(rowt + p); val rowp = p * k
      var q = p
      while (q < k) { a(rowp + q) -= u * a(rowt + q); q += 1 }
    }
  }
}
