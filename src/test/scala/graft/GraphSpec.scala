package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph operators (operators.Graph) on hand-built graphs where the
  * expected answers are known or computable by an independent driver-side
  * implementation of the same integer recurrence.
  */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Scale = 1000000000000L

  /** (src, dst) as the unweighted walk pageRank takes: w = 1 and
    * sw = out-degree on every row.
    */
  private def walk(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"), lit(1L).as("w"),
      count(lit(1)).over(Window.partitionBy(col("src"))).as("sw"))

  private def ranks(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iterations: Int): Map[Long, Long] = {
    import spark.implicits._
    val e = walk(edges.toDF("src", "dst"))
    val n = nodes.toDF("user_id")
    operators.Graph.pageRank(e, n, iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** The exact fixed-point recurrence, serial reference implementation. */
  private def referencePageRank(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iterations: Int): Map[Long, Long] = {
    val n = nodes.size.toLong
    val base = 15L * Scale / (100L * n)
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> Scale / n).toMap
    for (_ <- 1 to iterations) {
      val inflow = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / outDeg(src) }.sum
        }
    // 85 * inflow may exceed Int range but not Long; integer div matches
    // Spark's `div` and DuckDB's `//` on non-negative operands
      r = nodes.map(v => v -> (base + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRank == serial reference recurrence on an asymmetric digraph") {
    // two hubs, a chain, a dangling node (8 -> nothing), an isolated node
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (6, 5), (7, 5), (3, 8))
    val nodes = (1L to 9L)
    val got = ranks(edges, nodes, 4)
    val want = referencePageRank(edges, nodes, 4)
    assert(got == want)
    // mass can only leak (floor loss + the dangling node 8 and isolated
    // node 9 absorb-and-drop): never exceeds the initial Scale
    assert(got.values.sum <= Scale)
  }

  test("pageRank symmetry: a directed cycle gives every node the same rank") {
    val nodes = (0L until 6L)
    val edges = nodes.map(v => v -> ((v + 1) % 6))
    val got = ranks(edges, nodes, 4)
    assert(got.values.toSet.size == 1)
  }

  test("pageRank centrality: undirected star ranks the center above leaves") {
    val leaves = (1L to 8L)
    val edges = leaves.flatMap(l => Seq(0L -> l, l -> 0L))
    val got = ranks(edges, leaves :+ 0L, 4)
    assert(leaves.forall(l => got(0L) > got(l)))
    // all leaves are exchangeable: identical ranks
    assert(leaves.map(got).toSet.size == 1)
  }

  /** Seed-conditional variant of the serial recurrence: all init and
    * teleport mass lands on the seed set only (operators.Graph.pageRank
    * with seeds = Some(S)).
    */
  private def referencePpr(edges: Seq[(Long, Long)], nodes: Seq[Long],
      seeds: Set[Long], iterations: Int): Map[Long, Long] = {
    val ns = seeds.size.toLong
    val base = 15L * Scale / (100L * ns)
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(v => v -> (if (seeds(v)) Scale / ns else 0L)).toMap
    for (_ <- 1 to iterations) {
      val inflow = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / outDeg(src) }.sum
        }
      r = nodes.map(v => v ->
        ((if (seeds(v)) base else 0L) + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("personalized pageRank == serial seed-restart recurrence") {
    import spark.implicits._
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (6, 5), (7, 5), (3, 8))
    val nodes = (1L to 9L)
    val seeds = Set(1L, 4L)
    val got = operators.Graph.pageRank(walk(edges.toDF("src", "dst")),
        nodes.toDF("user_id"), 4, Some(seeds.toSeq.toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == referencePpr(edges, nodes, seeds, 4))
    // nodes the walk can't reach from the seeds stay at exactly 0
    // (9 is isolated; 6 and 7 only have OUT-edges)
    assert(got(9L) == 0L && got(6L) == 0L && got(7L) == 0L)
    // restart mass is conserved-or-leaked, never created
    assert(got.values.sum <= Scale)
  }

  test("perSeedPpr == one single-seed referencePpr per seed; sparse rows only") {
    import spark.implicits._
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (6, 5), (7, 5), (3, 8))
    val nodes = (1L to 9L)
    val seeds = Seq(1L, 4L, 9L) // 9 is isolated: its walk stays at home
    val got = operators.Graph.perSeedPpr(walk(edges.toDF("src", "dst")),
        seeds.toDF("seed"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // each seed's column of the matrix must equal the SINGLE-seed serial
    // recurrence restricted to its nonzero rows
    for (sd <- seeds) {
      val want = referencePpr(edges, nodes, Set(sd), 4).filter(_._2 > 0)
      val gotSeed = got.collect { case ((s, v), r) if s == sd => v -> r }
      assert(gotSeed == want, s"seed $sd")
    }
    // sparsity: no zero rows materialize, and the isolated seed's walk
    // is exactly its own restart mass
    assert(got.values.forall(_ > 0))
    assert(got.keys.count { case (s, _) => s == 9L } == 1)
  }

  test("personalized pageRank with seeds = all nodes IS global pageRank") {
    import spark.implicits._
    val edges = walk(Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (1, 3)).toDF("src", "dst"))
    val nodes = (1L to 4L)
    val global = operators.Graph.pageRank(edges, nodes.toDF("user_id"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ppr = operators.Graph.pageRank(edges, nodes.toDF("user_id"), 4,
        Some(nodes.toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(global == ppr)
  }

  test("kCore: triangle survives a 2-core peel, pendant chain does not") {
    import spark.implicits._
    // triangle {1,2,3} with a pendant path 3-4-5; k=2 leaves exactly the
    // triangle, every member at within-core degree 2
    val und = Seq[(Long, Long)]((1, 2), (2, 3), (1, 3), (3, 4), (4, 5))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = operators.Graph.kCore(edges, 2, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // the round count is a CAP with convergence early-exit, not a job
    // count: a 100-round cap returns the same fixed point (and returns
    // promptly — ~2 live rounds plus one stability check, not 100 jobs)
    val capped = operators.Graph.kCore(edges, 2, 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == got)
  }

  test("kCore: a chain cascades to empty, one endpoint pair per round") {
    import spark.implicits._
    // path of 10: peeling at k=2 removes the two current endpoints per
    // round — convergence takes 5 rounds, exercising the multi-round
    // cascade (and the fixed-round cap's no-op tail: 8 > 5)
    val und = (0L until 9L).map(i => i -> (i + 1))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(operators.Graph.kCore(edges, 2, 8).isEmpty)
    // the same peel stopped early (2 rounds) still has survivors — the
    // cap genuinely has to cover the cascade depth
    assert(!operators.Graph.kCore(edges, 2, 2).isEmpty)
  }

  /** Serial synchronous LPA: majority neighbor label, ties to smallest,
    * isolated nodes keep their own (operators.Graph.labelPropagation).
    */
  private def referenceLpa(edges: Seq[(Long, Long)], nodes: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val nbr = edges.groupBy(_._2).map { case (dst, es) =>
        val counts = es.groupBy { case (src, _) => lbl(src) }
          .map { case (l, g) => l -> g.size }
        dst -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      lbl = nodes.map(v => v -> nbr.getOrElse(v, v)).toMap
    }
    lbl
  }

  test("labelPropagation == serial synchronous majority/min-tie recurrence") {
    import spark.implicits._
    // two triangles bridged by one edge + an isolated node: LPA collapses
    // each triangle onto its min id; the bridge is outvoted
    val und = Seq[(Long, Long)](
      (1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = (1L to 7L)
    for (rounds <- 1 to 3) {
      val got = operators.Graph.labelPropagation(
          edges, nodes.toDF("user_id"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == referenceLpa(und ++ und.map(_.swap), nodes, rounds),
        s"rounds=$rounds")
    }
    // the isolated node keeps its own label forever
    assert(operators.Graph.labelPropagation(edges, nodes.toDF("user_id"), 3)
      .filter(col("node") === 7L).head().getLong(1) == 7L)
  }

  /** Multi-source BFS hop distances: [[operators.Graph.bfsLabeled]] with
    * one label shared by every seed (q154's form). Output node -> hops.
    */
  private def bfs(edges: DataFrame, seeds: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    operators.Graph.bfsLabeled(edges,
        seeds.toDF("node").select(lit(0L).as("seed"), col("node")))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
  }

  test("bfs: multi-source min-hop distances on a known graph") {
    import spark.implicits._
    // path 0-1-2-3-4 (undirected), branch 2-5, isolated 9; seeds {0, 4}
    val und = Seq[(Long, Long)]((0, 1), (1, 2), (2, 3), (3, 4), (2, 5))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = bfs(edges, Seq(0L, 4L))
    assert(got == Map(0L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L, 2L -> 2L, 5L -> 3L))
    // isolated node 9 must be absent, not at some sentinel distance
    assert(!got.contains(9L))
  }

  test("bfsLabeled: per-seed distances, and min over seeds reproduces bfs") {
    import spark.implicits._
    // same graph as the bfs case: path 0-1-2-3-4, branch 2-5; seeds {0, 4}
    val und = Seq[(Long, Long)]((0, 1), (1, 2), (2, 3), (3, 4), (2, 5))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L, 4L).toDF("seed").select(col("seed"), col("seed").as("node"))
    val got = operators.Graph.bfsLabeled(edges, seeds)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // per-seed distances differ where the min-hop bfs collapses them
    assert(got((0L, 5L)) == 3L && got((4L, 5L)) == 3L)
    assert(got((0L, 3L)) == 3L && got((4L, 3L)) == 1L)
    assert(got((0L, 4L)) == 4L && got((4L, 0L)) == 4L)
    val minOverSeeds = got.groupBy(_._1._2).map { case (n, m) => n -> m.values.min }
    assert(minOverSeeds == bfs(edges, Seq(0L, 4L)))
  }

  test("bfs: empty seed set returns an empty labeling") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((0, 1), (1, 0)).toDF("src", "dst")
    assert(bfs(edges, Nil).isEmpty)
  }

  test("the memoized edge table keeps its src hash layout through the checkpoint") {
    // the iteration-scale claim: every PageRank/BFS round joins the
    // static edge side WITHOUT re-shuffling it — true only if the
    // localCheckpoint preserves the repartition(src) layout, which this
    // pins down (a Spark behavior change here would silently double the
    // per-round shuffle mass at cluster scale)
    val (edges, _) = operators.Graph.coRatingGraph(spark, "/root/testdata/sf0.001")
    val part = edges.queryExecution.executedPlan.outputPartitioning
    assert(part.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
      s"edge layout lost through checkpoint: $part")
    val exprs = part.asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
      .expressions.map(_.toString).mkString(",")
    assert(exprs.contains("src"), s"partitioned on $exprs, not src")
  }

  test("a PageRank round never re-shuffles the edge side (vertex state moves, edges stay)") {
    import spark.implicits._
    val (edges, nodes) = operators.Graph.coRatingGraph(spark, "/root/testdata/sf0.001")
    val pr = nodes.select(col("user_id").as("node"), lit(1000L).as("rnk"))
    val round = edges.join(pr, col("src") === col("node"))
      .select(col("dst"), expr("rnk div deg").as("contrib"))
      .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(src"),
      "the static edge table is re-shuffled every round\n" + p)
  }

  test("hits == the hand-unrolled sup-normalized recurrence on a known digraph") {
    import spark.implicits._
    // 1 -> 3, 2 -> 3, 2 -> 4; node 5 isolated. Hand-run (Scale = 1e6):
    //   r1: ar = {3: 2e6, 4: 1e6}           -> a = {3: 1e6, 4: 500000}
    //       hr = {1: 1e6, 2: 1.5e6}         -> h = {1: 666666, 2: 1e6}
    //   r2: ar = {3: 1666666, 4: 1e6}       -> a = {3: 1e6, 4: 600000}
    //       hr = {1: 1e6, 2: 1.6e6}         -> h = {1: 625000, 2: 1e6}
    //   r3: ar = {3: 1625000, 4: 1e6}       -> a = {3: 1e6, 4: 615384}
    //       hr = {1: 1e6, 2: 1615384}       -> h = {1: 619047, 2: 1e6}
    val od = Seq[(Long, Long)]((1, 3), (2, 3), (2, 4)).toDF("src", "dst")
    val nodes = (1L to 5L).toDF("user_id")
    val got = operators.Graph.hits(od, nodes, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (0L, 619047L),
      2L -> (0L, 1000000L),
      3L -> (1000000L, 0L),
      4L -> (615384L, 0L),
      5L -> (0L, 0L)))
  }

  test("hits invariants: max normalized score is exactly Scale, scores bounded") {
    import spark.implicits._
    // a bipartite-ish digraph with distinct hub/authority structure
    val od = Seq[(Long, Long)](
      (1, 10), (1, 11), (2, 10), (2, 11), (2, 12), (3, 12)).toDF("src", "dst")
    val nodes = ((1L to 3L) ++ (10L to 12L)).toDF("user_id")
    val rows = operators.Graph.hits(od, nodes, 3).collect()
    val auth = rows.map(_.getLong(1))
    val hub = rows.map(_.getLong(2))
    assert(auth.max == 1000000L && hub.max == 1000000L)
    assert(auth.forall(v => v >= 0 && v <= 1000000L))
    assert(hub.forall(v => v >= 0 && v <= 1000000L))
    // node 2 points at every authority: it must be the top hub;
    // 10/11 (two hubs each, one of them the best) tie above nobody —
    // the top authority is whichever in-neighborhood weighs most
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId(2L)._2 == 1000000L)
  }

  test("sssp: weighted distances prefer the cheap long way around") {
    import spark.implicits._
    // 0→1 direct costs 10; 0→2→3→1 costs 1+1+1: Bellman-Ford must
    // keep improving node 1 after first labeling it via the direct edge
    val und = Seq[(Long, Long, Long)](
      (0, 1, 10), (0, 2, 1), (2, 3, 1), (3, 1, 1), (1, 4, 2))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "len")
    val seeds = Seq(0L).toDF("node")
    val got = operators.Graph.sssp(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 2L -> 1L, 3L -> 2L, 1L -> 3L, 4L -> 5L))
  }

  test("scc: cycles, one-way bridges, DAG tails on a known digraph") {
    import spark.implicits._
    // two 3-cycles joined by a ONE-WAY bridge (2→3), a tail 6 fed
    // one-way (5→6), and an isolated node 9: SCCs {0,1,2}, {3,4,5},
    // {6}, {9} — weakly-connected CC would merge the first three
    val e = Seq[(Long, Long)]((0, 1), (1, 2), (2, 0), (2, 3),
      (3, 4), (4, 5), (5, 3), (5, 6)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 9L).toDF("node")
    val got = operators.Graph.scc(e, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L, 9L -> 9L))
  }

  test("scc: randomized digraphs match a serial mutual-reachability reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(6)
      val e = (for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.18
      } yield (i.toLong, j.toLong)).toSeq
      // serial reference: boolean transitive closure, mutual classes
      val reach = Array.fill(n, n)(false)
      e.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val expect = (0 until n).map { v =>
        val members = (0 until n).filter(u =>
          u == v || (reach(v)(u) && reach(u)(v)))
        v.toLong -> members.min.toLong
      }.toMap
      val got = operators.Graph.scc(
          if (e.isEmpty) Seq((0L, 0L)).toDF("src", "dst").filter(lit(false))
          else e.toDF("src", "dst"),
          (0 until n).map(_.toLong).toDF("node"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial n=$n edges=$e")
    }
  }

  test("sssp: randomized graphs match a serial Dijkstra reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 5) {
      val n = 12 + rnd.nextInt(8)
      val und = (for {
        i <- 0 until n; j <- (i + 1) until n
        if rnd.nextDouble() < 0.25
      } yield (i.toLong, j.toLong, 1L + rnd.nextInt(9))).toSeq
      val directed = und ++ und.map(e => (e._2, e._1, e._3))
      val seeds = Seq(0L, (n / 2).toLong).distinct
      // serial Dijkstra (multi-source) under the same cost bound
      val adj = directed.groupBy(_._1).map { case (k, v) =>
        k -> v.map(e => (e._2, e._3))
      }
      val bound = 25L
      val dist = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
      val pq = scala.collection.mutable.PriorityQueue(
        seeds.map(s => (-0L, s)): _*)(Ordering.by(_._1))
      while (pq.nonEmpty) {
        val (nd, u) = pq.dequeue()
        if (-nd == dist(u))
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            val alt = -nd + w
            if (alt < bound && alt < dist.getOrElse(v, Long.MaxValue)) {
              dist(v) = alt; pq.enqueue((-alt, v))
            }
          }
      }
      val got = operators.Graph.sssp(directed.toDF("src", "dst", "len"),
          seeds.toDF("node"), bound = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == dist.toMap, s"trial $trial: n=$n edges=${und.size}")
    }
  }

  test("sssp: the cost bound excludes over-budget nodes, multi-seed takes the min") {
    import spark.implicits._
    val und = Seq[(Long, Long, Long)]((0, 1, 4), (1, 2, 4), (2, 3, 4))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "len")
    // bound 9: node 2 (dist 8) in, node 3 (dist 12) out
    val one = operators.Graph.sssp(edges, Seq(0L).toDF("node"), bound = 9L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(0L -> 0L, 1L -> 4L, 2L -> 8L))
    // seeding both ends halves the worst distance
    val two = operators.Graph.sssp(edges, Seq(0L, 3L).toDF("node"), bound = 9L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(0L -> 0L, 3L -> 0L, 1L -> 4L, 2L -> 4L))
  }

  test("temporal reachability: out-of-order edges are NOT paths; waiting is allowed") {
    import spark.implicits._
    // A→B at t=100, B→C at t=50: static reachability says A reaches C,
    // time-respecting says NO (you arrive at B after B→C fired).
    // B→D at t=200: waiting at B from 100 to 200 is fine.
    // E→A at t=10 gives a later chain E→A(10)→B(100)→D(200).
    val edges = Seq(
      (1L, 2L, 100L), (2L, 3L, 50L), (2L, 4L, 200L), (5L, 1L, 10L)
    ).toDF("src", "dst", "t")
    val one = operators.Graph.temporalEarliestArrival(
        edges, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 100L, 4L -> 200L), s"got $one")
    assert(!one.contains(3L), "took the out-of-order B->C edge")
    val fromE = operators.Graph.temporalEarliestArrival(
        edges, Seq(5L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromE == Map(5L -> 0L, 1L -> 10L, 2L -> 100L, 4L -> 200L))
    // a seed ON the late edge still catches it
    val fromB = operators.Graph.temporalEarliestArrival(
        edges, Seq(2L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromB == Map(2L -> 0L, 3L -> 50L, 4L -> 200L))
  }

  test("Graph.cc == Dedup.connectedComponents == serial union-find (shared implementation)") {
    import spark.implicits._
    val rnd = new scala.util.Random(246)
    for (trial <- 1 to 3) {
      val n = 40
      val nodes = (0L until n).toSeq
      val pairs = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // serial union-find with min-id relabeling
      val parent = scala.collection.mutable.ArrayBuffer.range(0, n)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val viaGraph = operators.Graph.cc(nodes.toDF("node"), pairs.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaDedup = operators.Dedup.connectedComponents(
          nodes.toDF("doc_id"), pairs.toDF("doc_a", "doc_b"))._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaGraph == expect, s"trial $trial: Graph.cc != union-find")
      assert(viaGraph == viaDedup, s"trial $trial: adapter drifted from Dedup CC")
    }
  }

  test("Graph.cc pointer doubling: a 256-node path converges in O(log n) rounds") {
    import spark.implicits._
    // plain min-propagation needs ~n/2 rounds to carry node 0's label to
    // the far end; pointer doubling halves the remaining distance per
    // round. Pinned: ⌈log₂ 256⌉ + 3 — the doubling rounds plus the
    // shared first round and the round that sees no change.
    val n = 256
    val (labels, rounds) = operators.Graph.ccRounds(
      (0L until n).toDF("node"), (1L until n).map(i => (i - 1, i)).toDF("a", "b"))
    assert(labels.collect().forall(_.getLong(1) == 0L))
    assert(rounds <= 8 + 3, s"cc took $rounds rounds on a $n-node path")
  }

  test("graph caps: a zero, negative or non-numeric cap fails loudly") {
    val prop = "graft.test.graphCap"
    val read = () => operators.Graph.capSetting(prop, "GRAFT_TEST_GRAPH_CAP_UNSET", 500L)
    try {
      assert(read() == 500L)
      sys.props(prop) = "42"
      assert(read() == 42L)
      for (bad <- Seq("0", "-3", "5k", "")) {
        sys.props(prop) = bad
        val e = intercept[RuntimeException](read())
        assert(e.getMessage.contains(prop), e.getMessage)
      }
    } finally sys.props -= prop
  }

  test("capGroups: identity under the cap, deterministic hash-ordered sample over it") {
    import spark.implicits._
    // group (1,1): 10 users; group (2,2): 3 users; group (1,2): 1 user
    val rows = (1L to 10L).map(u => (u * 17 + 3, 1L, 1L)) ++
      Seq((5L, 2L, 2L), (900L, 2L, 2L), (31L, 2L, 2L), (77L, 1L, 2L))
    val df = rows.toDF("user_id", "item_id", "rating")
    def key(u: Long): (Long, Long) = ((u % 100003) * 2654435761L % 1000000007L, u)
    // cap >= max group: bit-identical pass-through
    val all = operators.Graph.capGroups(df, 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(all == rows.toSet)
    // cap 4: the big group keeps EXACTLY its 4 smallest under the
    // (hash, user_id) total order — the serial reference sample
    val capped = operators.Graph.capGroups(df, 4)
      .as[(Long, Long, Long)].collect().toSet
    val expectBig = (1L to 10L).map(_ * 17 + 3)
      .sortBy(key).take(4).map((_, 1L, 1L)).toSet
    val expectRest = Seq((5L, 2L, 2L), (900L, 2L, 2L), (31L, 2L, 2L),
      (77L, 1L, 2L)).toSet
    assert(capped == expectBig ++ expectRest)
    // partitioning-independence: the kept set is a function of the data
    val reshuffled = operators.Graph.capGroups(df.repartition(7), 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(reshuffled == capped)
  }

  /** Serial Kruskal under the SAME total order (cnt DESC, ua, ub) —
    * the independent reference for boruvkaMsf (two different MST
    * algorithms must agree because unique weights ⇒ unique msf).
    */
  private def kruskalMsf(nodes: Seq[Long],
      edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val idx = nodes.sorted.zipWithIndex.toMap
    val parent = Array.tabulate(nodes.size)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    val picked = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    for ((ua, ub, cnt) <- edges.sortBy { case (a, b, c) => (-c, a, b) }) {
      val (ra, rb) = (find(idx(ua)), find(idx(ub)))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb)
        picked += ((ua, ub, cnt)) }
    }
    picked.toSet
  }

  private def msfOf(nodes: Seq[Long],
      edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    operators.Graph.boruvkaMsf(nodes.toDF("node"),
        edges.toDF("ua", "ub", "cnt"))
      .as[(Long, Long, Long)].collect().toSet
  }

  test("boruvkaMsf: hand graph — heaviest forest, bridge kept, cycle-min dropped") {
    // square 1-2-3-4 with a diagonal, plus a pendant bridge and an
    // isolated node. Unique weights; max-SF must keep {40,30,25}+bridge
    // and drop the two cheapest cycle closers.
    val edges = Seq[(Long, Long, Long)](
      (1L, 2L, 40L), (2L, 3L, 30L), (3L, 4L, 10L), (1L, 4L, 20L),
      (1L, 3L, 25L), (4L, 5L, 7L))
    val got = msfOf(1L to 6L, edges)
    // Kruskal by hand, heaviest first: 40 keep, 30 keep, 25 closes the
    // 1-2-3 cycle -> drop, 20 keep, 10 closes 1-3-4 -> drop, 7 keep.
    assert(got == Set((1L, 2L, 40L), (2L, 3L, 30L), (1L, 4L, 20L),
      (4L, 5L, 7L)))
  }

  test("boruvkaMsf: randomized graphs match serial Kruskal exactly") {
    val rnd = new scala.util.Random(1063)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(8)
      val nodes = (1L to n.toLong)
      // duplicate cnt values on purpose: the (cnt, ua, ub) tie-break is
      // what makes the msf unique, and both sides must honor it
      val edges = (for {
        a <- 1 to n; b <- a + 1 to n
        if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong, (1 + rnd.nextInt(5)).toLong)).toSeq
      val got = msfOf(nodes, edges)
      val want = kruskalMsf(nodes, edges)
      assert(got == want, s"trial $trial: Borůvka != Kruskal on $edges")
      // forest size law: |msf| = V - #components
      val comp = {
        val parent = Array.tabulate(n + 1)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        edges.foreach { case (a, b, _) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
        (1 to n).map(find).distinct.size
      }
      assert(got.size == n - comp, s"trial $trial: |msf| != V - C")
    }
  }

  test("boruvkaMsf: empty edge set and single-edge graph") {
    import spark.implicits._
    assert(msfOf(Seq(1L, 2L, 3L), Seq.empty) == Set.empty)
    assert(msfOf(Seq(1L, 2L, 3L), Seq((1L, 2L, 5L))) == Set((1L, 2L, 5L)))
  }
}
