package graft.ml

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.VecOps

/** Blocked alternating least squares for explicit ratings: the objective
  * and update order of MLlib's explicit ALS (ALS-WR: λ·n on the
  * diagonal of each entity's normal equation, items solved before users
  * in every iteration, factors starting as unit-norm Gaussian vectors),
  * with a per-entity solve that is a plain JVM loop instead of netlib's
  * packed `dspr` + `dppsv`.
  *
  * Structure. Users and items are hashed into `numBlocks` blocks per
  * side, one block per partition. One shuffle turns the ratings into a
  * persisted pair of [[Block]]s per partition: the users of block b with
  * their ratings, and the items of block b with theirs. Each block also
  * records which of its entities every block of the other side needs,
  * so a half-step ships exactly those factor rows (one shuffle) and the
  * receiving block gathers them, one array per row, in other-side-id
  * order ([[Solver]] says why the rows stay separate arrays). The
  * iterations are one lineage; a single action materializes it, with no
  * per-iteration job and nothing collected to the driver.
  *
  * Determinism. Initial factors are seeded per entity id, and an
  * entity's normal equation is accumulated over its ratings in
  * other-side-id order, so every factor is a function of the ratings
  * and the settings alone: the factor tables are bit-identical at any
  * block count, and the block count can simply be the task-slot count.
  */
object Als {

  /** Fitted factors, persisted until [[unpersist]]. Both tables have the
    * schema (id INT, features ARRAY<FLOAT>).
    */
  final class Model private[Als] (val rank: Int, spark: SparkSession,
      users: RDD[(Array[Int], Array[Float])], items: RDD[(Array[Int], Array[Float])]) {

    lazy val userFactors: DataFrame = table(users)
    lazy val itemFactors: DataFrame = table(items)

    private def table(f: RDD[(Array[Int], Array[Float])]): DataFrame = {
      val k = rank
      spark.createDataFrame(f.flatMap { case (ids, x) =>
        ids.indices.iterator.map(j => Row(ids(j), java.util.Arrays.copyOfRange(x, j * k, j * k + k)))
      }, FactorSchema)
    }

    /** `pairs` (columns user and item) with a `prediction` column: the
      * factor dot product, through broadcast joins of both factor
      * tables. An inner join drops cold-start pairs; a left join keeps
      * them with a null prediction.
      */
    def predict(pairs: DataFrame, joinType: String = "inner"): DataFrame =
      pairs
        .join(broadcast(userFactors.select(col("id").as("user"), col("features").as("uf"))),
          Seq("user"), joinType)
        .join(broadcast(itemFactors.select(col("id").as("item"), col("features").as("if"))),
          Seq("item"), joinType)
        .withColumn("prediction", VecOps.dotF(col("uf"), col("if")))
        .drop("uf", "if")

    def unpersist(): Unit = { users.unpersist(blocking = false); items.unpersist(blocking = false) }
  }

  val FactorSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Fits factors to `ratings` (columns user INT, item INT, rating
    * FLOAT). `onIteration`, when given, receives each iteration's
    * training RMSE after the fit's one action has run.
    */
  def fit(ratings: DataFrame, rank: Int, maxIter: Int, regParam: Double, seed: Long,
      numBlocks: Int, onIteration: (Int, Double) => Unit = null): Model = {
    require(rank >= 1 && maxIter >= 1 && numBlocks >= 1 && regParam > 0,
      s"rank $rank, maxIter $maxIter, numBlocks $numBlocks, regParam $regParam")
    val spark = ratings.sparkSession
    val sc = spark.sparkContext
    val part = new HashPartitioner(numBlocks)
    val nb = numBlocks

    // one shuffle: each map task cuts its ratings into per-block columns,
    // both sides in one record, and each block is built once and kept
    val triples = ratings.select(col("user").cast("int"), col("item").cast("int"),
      col("rating").cast("float")).queryExecution.toRdd
    val blocks = triples.mapPartitions { rows =>
      val users = Array.fill(nb)(new RatingsBuilder); val items = Array.fill(nb)(new RatingsBuilder)
      rows.foreach { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
          "ALS ratings must not contain a null user, item or rating")
        val (u, i, v) = (r.getInt(0), r.getInt(1), r.getFloat(2))
        users(blockOf(u, nb)).add(u, i, v)
        items(blockOf(i, nb)).add(i, u, v)
      }
      (0 until nb).iterator.map(b => (b, (users(b).result(), items(b).result())))
        .filter { case (_, (us, is)) => us.dst.nonEmpty || is.dst.nonEmpty }
    }.partitionBy(part).mapPartitionsWithIndex({ (b, it) =>
      val cuts = it.map(_._2).toSeq
      Iterator.single(Array(Block(b, nb, cuts.map(_._1)), Block(b, nb, cuts.map(_._2))))
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_ONLY)
    // each half-step reads one side's blocks and the other side's send
    // lists; kept apart, a read of the cache takes only what it uses
    val sides = Array.tabulate(2)(s =>
      blocks.mapPartitions(_.map(_(s)), preservesPartitioning = true).persist(StorageLevel.MEMORY_ONLY))
    val sends = sides.map(_.mapPartitions(_.map(b => (b.index, b.send)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_ONLY))

    val sse = if (onIteration == null) null
      else sc.collectionAccumulator[(Int, Int, Double, Long)]("als.sse")

    /** Solves side `dst` (0 users, 1 items) from the other side's factors. */
    def halfStep(src: RDD[(Array[Int], Array[Float])], dst: Int, iter: Int) = {
      val msgs = src.zipPartitions(sends(1 - dst)) { (fs, ss) =>
        val x = fs.next()._2; val (a, send) = ss.next()
        send.indices.iterator.filter(b => send(b).nonEmpty).map(b => (b, (a, rows(x, send(b), rank))))
      }.partitionBy(part)
      msgs.zipPartitions(sides(dst)) { (ms, bs) =>
        val blk = bs.next()
        val y = Array.ofDim[Double](blk.nSrc, rank)
        ms.foreach { case (_, (a, f)) =>
          val at = blk.gather(a)
          var t = 0
          while (t < at.length) {
            var q = 0; val yt = y(at(t)); val fo = t * rank
            while (q < rank) { yt(q) = f(fo + q); q += 1 }
            t += 1
          }
        }
        val x = solveBlock(blk, y, rank, regParam)
        if (sse != null && dst == 0) sse.add((iter, blk.index, blk.sse(y, x, rank), blk.ratings.length))
        Iterator.single((blk.ids, x))
      }
    }

    var users = sides(0).mapPartitions(bs => Iterator.single(init(bs.next().ids, rank, seed)))
    var items: RDD[(Array[Int], Array[Float])] = null
    for (iter <- 1 to maxIter) {
      items = halfStep(users, 1, iter)
      if (iter == maxIter) items.persist(StorageLevel.MEMORY_ONLY)
      users = halfStep(items, 0, iter)
    }
    users.persist(StorageLevel.MEMORY_ONLY)
    try users.count() // the one action: every block, iteration and final factor
    catch { case t: Throwable =>
      users.unpersist(blocking = false); items.unpersist(blocking = false); throw t
    } finally (blocks +: sides ++: sends).foreach(_.unpersist(blocking = false))

    if (sse != null) {
      val byIter = sse.value.toArray(new Array[(Int, Int, Double, Long)](0))
        .groupBy(_._1).map { case (i, rs) =>
          // a re-run task adds its (iteration, block) entry again, with the same value
          val once = rs.groupBy(_._2).values.map(_.head).toSeq.sortBy(_._2)
          i -> math.sqrt(once.map(_._3).sum / once.map(_._4).sum)
        }
      (1 to maxIter).foreach(i => onIteration(i, byIter(i)))
    }
    new Model(rank, spark, users, items)
  }

  /** Block of an entity id: a mixed hash, so runs of ids spread evenly. */
  private def blockOf(id: Int, nb: Int): Int =
    java.lang.Math.floorMod(scala.util.hashing.byteswap32(id), nb)

  /** Unit-norm Gaussian start vectors, each seeded by its entity id. */
  private def init(ids: Array[Int], k: Int, seed: Long): (Array[Int], Array[Float]) = {
    val x = new Array[Float](ids.length * k)
    var j = 0
    while (j < ids.length) {
      val rnd = new java.util.Random(mix64(seed ^ (ids(j).toLong * 0x9E3779B97F4A7C15L)))
      val o = j * k
      var norm = 0.0; var q = 0
      while (q < k) { val g = rnd.nextGaussian().toFloat; x(o + q) = g; norm += g.toDouble * g; q += 1 }
      val inv = 1.0 / math.sqrt(norm)
      q = 0
      while (q < k) { x(o + q) = (x(o + q) * inv).toFloat; q += 1 }
      j += 1
    }
    (ids, x)
  }

  /** SplitMix64's finalizer: nearby ids give unrelated Random seeds. */
  private def mix64(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The factor rows `at` of `x`, packed in that order. */
  private def rows(x: Array[Float], at: Array[Int], k: Int): Array[Float] = {
    val out = new Array[Float](at.length * k)
    var t = 0
    while (t < at.length) { System.arraycopy(x, at(t) * k, out, t * k, k); t += 1 }
    out
  }

  private def solveBlock(blk: Block, y: Array[Array[Double]], k: Int, regParam: Double): Array[Float] = {
    val solver = new Solver(k)
    val xj = new Array[Double](k)
    val out = new Array[Float](blk.ids.length * k)
    var j = 0
    while (j < blk.ids.length) {
      solver.solve(y, blk.src, blk.ratings, blk.ptr(j), blk.ptr(j + 1), regParam, xj)
      var q = 0
      while (q < k) { out(j * k + q) = xj(q).toFloat; q += 1 }
      j += 1
    }
    out
  }

  /** One side's ratings: entity `dst(p)` rated other-side entity `src(p)` with `r(p)`. */
  private final case class Ratings(dst: Array[Int], src: Array[Int], r: Array[Float])

  private final class RatingsBuilder {
    private val dst = new mutable.ArrayBuilder.ofInt
    private val src = new mutable.ArrayBuilder.ofInt
    private val r = new mutable.ArrayBuilder.ofFloat
    def add(d: Int, s: Int, v: Float): Unit = { dst += d; src += s; r += v }
    def result(): Ratings = Ratings(dst.result(), src.result(), r.result())
  }

  /** One side's entities in one block, with their ratings in CSR form:
    * entity `ids(j)` rated the other side's buffer rows
    * `src(ptr(j) until ptr(j + 1))`, in other-side-id order, with
    * `ratings` at the same positions. The buffer holds the `nSrc`
    * other-side entities this block needs, sorted by id; `gather(a)`
    * lists the buffer rows that other-side block a sends, in the order
    * it sends them, and `send(b)` lists the local rows of this block
    * that other-side block b needs, ascending.
    */
  private final class Block(val index: Int, val ids: Array[Int], val ptr: Array[Int],
      val src: Array[Int], val ratings: Array[Float], val nSrc: Int,
      val gather: Array[Array[Int]], val send: Array[Array[Int]]) extends Serializable {

    /** Squared training error of the factors `x` against `y`. */
    def sse(y: Array[Array[Double]], x: Array[Float], k: Int): Double = {
      var total = 0.0; var j = 0
      while (j < ids.length) {
        var p = ptr(j)
        while (p < ptr(j + 1)) {
          var dot = 0.0; var q = 0; val ys = y(src(p))
          while (q < k) { dot += x(j * k + q) * ys(q); q += 1 }
          val e = ratings(p) - dot
          total += e * e
          p += 1
        }
        j += 1
      }
      total
    }
  }

  private object Block {
    def apply(index: Int, nb: Int, parts: Seq[Ratings]): Block = {
      val dst = Array.concat(parts.map(_.dst): _*); val src = Array.concat(parts.map(_.src): _*)
      val r = Array.concat(parts.map(_.r): _*)
      val n = dst.length
      val ids = distinctSorted(dst)
      val ptr = new Array[Int](ids.length + 1)
      val local = new Array[Int](n)
      for (p <- 0 until n) { local(p) = java.util.Arrays.binarySearch(ids, dst(p)); ptr(local(p) + 1) += 1 }
      for (j <- ids.indices) ptr(j + 1) += ptr(j)
      // (other-side id, rating bits) in one long per rating, sorted within
      // each entity: a fixed order, whatever order the ratings came in
      val keys = new Array[Long](n)
      val fill = java.util.Arrays.copyOf(ptr, ids.length)
      for (p <- 0 until n) {
        keys(fill(local(p))) = (src(p).toLong << 32) | (java.lang.Float.floatToRawIntBits(r(p)) & 0xffffffffL)
        fill(local(p)) += 1
      }
      for (j <- ids.indices) java.util.Arrays.sort(keys, ptr(j), ptr(j + 1))
      val srcIds = new Array[Int](n); val ratings = new Array[Float](n)
      for (p <- 0 until n) {
        srcIds(p) = (keys(p) >> 32).toInt; ratings(p) = java.lang.Float.intBitsToFloat(keys(p).toInt)
      }
      val needed = distinctSorted(srcIds)
      val srcRow = new Array[Int](n)
      for (p <- 0 until n) srcRow(p) = java.util.Arrays.binarySearch(needed, srcIds(p))
      val gather = Array.fill(nb)(new mutable.ArrayBuilder.ofInt)
      for (t <- needed.indices) gather(blockOf(needed(t), nb)) += t
      val send = Array.fill(nb)(new mutable.ArrayBuilder.ofInt)
      val last = Array.fill(nb)(-1)
      for (j <- ids.indices; p <- ptr(j) until ptr(j + 1)) {
        val b = blockOf(srcIds(p), nb)
        if (last(b) != j) { last(b) = j; send(b) += j }
      }
      new Block(index, ids, ptr, srcRow, ratings, needed.length, gather.map(_.result()), send.map(_.result()))
    }

    private def distinctSorted(a: Array[Int]): Array[Int] = {
      val s = a.clone(); java.util.Arrays.sort(s)
      var m = 0
      for (t <- s.indices) if (t == 0 || s(t) != s(t - 1)) { s(m) = s(t); m += 1 }
      java.util.Arrays.copyOf(s, m)
    }
  }

  /** The per-entity least-squares solve. For the ratings `p` in
    * [from, until) it minimizes Σ (ratings(p) − x·y(src(p)))² + λ·n·|x|²,
    * n = until − from, where `y` holds one factor row of k doubles per
    * array: it accumulates the upper triangle of YᵀY four ratings at a
    * time (each pass over the triangle loads and stores every element
    * once for four rank-1 updates) together with Yᵀr, adds λ·n to the
    * diagonal and solves by an in-place Cholesky factorization.
    *
    * Layout. The factor rows, the normal matrix and its Cholesky factor
    * are each one `Array[Double]` per row, so every inner loop is a
    * daxpy over arrays that share its index, as in
    * `ai(j) += c0 * w0(j) + … + c3 * w3(j)`. HotSpot's C2 vectorizes that
    * shape. It does not vectorize the same loop over one flat buffer read
    * at loop-invariant offsets (`a(row + j) += c0 * w(j) + c1 * w(k + j)
    * + …`), because it cannot prove those accesses independent: the flat
    * layout ran the rank-64 solve scalar, in about 2.5× the time on an
    * AVX-512 Xeon core. Do not flatten these matrices. Vectorizing over
    * j leaves each element's sum in the same order, and the JVM never
    * fuses a multiply-add, so the factors are the same bits in either
    * layout. One instance per task; not thread-safe.
    */
  private[ml] final class Solver(k: Int) {
    private val a = Array.ofDim[Double](k, k)
    private val b = new Array[Double](k)

    def solve(y: Array[Array[Double]], src: Array[Int], ratings: Array[Float], from: Int, until: Int,
        regParam: Double, x: Array[Double]): Unit = {
      var i = 0
      while (i < k) { java.util.Arrays.fill(a(i), 0.0); i += 1 }
      java.util.Arrays.fill(b, 0.0)
      var p = from
      while (p + 3 < until) {
        val w0 = y(src(p)); val w1 = y(src(p + 1)); val w2 = y(src(p + 2)); val w3 = y(src(p + 3))
        val r0 = ratings(p).toDouble; val r1 = ratings(p + 1).toDouble
        val r2 = ratings(p + 2).toDouble; val r3 = ratings(p + 3).toDouble
        i = 0
        while (i < k) {
          val c0 = w0(i); val c1 = w1(i); val c2 = w2(i); val c3 = w3(i)
          b(i) += c0 * r0 + c1 * r1 + c2 * r2 + c3 * r3
          val ai = a(i)
          var j = i
          while (j < k) {
            ai(j) += c0 * w0(j) + c1 * w1(j) + c2 * w2(j) + c3 * w3(j)
            j += 1
          }
          i += 1
        }
        p += 4
      }
      while (p < until) {
        val w = y(src(p)); val r = ratings(p).toDouble
        i = 0
        while (i < k) {
          val c = w(i)
          b(i) += c * r
          val ai = a(i)
          var j = i
          while (j < k) { ai(j) += c * w(j); j += 1 }
          i += 1
        }
        p += 1
      }
      val lambda = regParam * (until - from)
      i = 0
      while (i < k) { a(i)(i) += lambda; i += 1 }
      cholesky()
      // Uᵀz = b, then Ux = z (z overwrites b)
      i = 0
      while (i < k) {
        val ai = a(i); val z = b(i) / ai(i); b(i) = z
        var j = i + 1
        while (j < k) { b(j) -= ai(j) * z; j += 1 }
        i += 1
      }
      i = k - 1
      while (i >= 0) {
        val ai = a(i); var s = b(i)
        var j = i + 1
        while (j < k) { s -= ai(j) * x(j); j += 1 }
        x(i) = s / ai(i)
        i -= 1
      }
    }

    /** A = UᵀU on the upper triangle, U overwriting it: four rows of U at
      * a time, then one rank-4 update of the trailing triangle (a single
      * load and store per element instead of four). Only the last block
      * can hold fewer than four rows, and it has no trailing triangle.
      */
    private def cholesky(): Unit = {
      var lo = 0
      while (lo < k) {
        val hi = math.min(lo + 4, k)
        var i = lo
        while (i < hi) {
          val ai = a(i)
          val d = ai(i)
          if (!(d > 0)) throw new ArithmeticException(s"ALS normal equation is not positive definite (pivot $d)")
          val s = math.sqrt(d)
          ai(i) = s
          var j = i + 1
          while (j < k) { ai(j) /= s; j += 1 }
          var p = i + 1
          while (p < hi) { update(ai, p); p += 1 }
          i += 1
        }
        if (hi - lo == 4) {
          val (a0, a1, a2, a3) = (a(lo), a(lo + 1), a(lo + 2), a(lo + 3))
          var p = hi
          while (p < k) {
            val u0 = a0(p); val u1 = a1(p); val u2 = a2(p); val u3 = a3(p)
            val ap = a(p)
            var q = p
            while (q < k) {
              ap(q) -= u0 * a0(q) + u1 * a1(q) + u2 * a2(q) + u3 * a3(q)
              q += 1
            }
            p += 1
          }
        }
        lo = hi
      }
    }

    /** Row p of the trailing triangle minus row p's share of U's row `at`. */
    private def update(at: Array[Double], p: Int): Unit = {
      val u = at(p); val ap = a(p)
      var q = p
      while (q < k) { ap(q) -= u * at(q); q += 1 }
    }
  }
}
