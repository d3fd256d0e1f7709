package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 analytics surface: semantic checks the DuckDB oracle can't
  * express (plan shape, internal invariants) plus a hand-built
  * connected-components fixture where the expected clusters are known.
  */
class AnalyticsSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("triangleCounts == brute force on an adversarial hub-skewed graph") {
    import spark.implicits._
    // hub 0 wired to everyone (the degree-skew case naive wedge
    // enumeration dies on), a 4-clique, a chord chain, plus a pendant
    // edge and an isolated component that must contribute nothing
    val edges =
      (1L to 15L).map(v => (0L, v)) ++                // star around hub 0
        Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),  // 4-clique {1,2,3,4}
          (2L, 4L), (3L, 4L)) ++
        Seq((5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L)) ++ // triangle + pendant
        Seq((20L, 21L))                               // isolated edge
    val df = edges.toDF("ua", "ub").localCheckpoint()
    df.createOrReplaceTempView("tri_edges")
    val expected = spark.sql(
      """WITH t AS (SELECT e1.ua AS x, e1.ub AS y, e2.ub AS z
           FROM tri_edges e1 JOIN tri_edges e2 ON e1.ub = e2.ua
                JOIN tri_edges e3 ON e3.ua = e1.ua AND e3.ub = e2.ub),
         v AS (SELECT x AS user_id FROM t
               UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
         SELECT user_id, COUNT(*) AS n_triangles
         FROM v GROUP BY user_id ORDER BY user_id""").collect()
    val got = operators.Analytics.triangleCounts(df).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      expected.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // hand count: every edge among the hub's neighbors closes a triangle
    // through the hub — 6 clique edges + 3 of {5,6,7} + (7,8) = 10
    val byV = got.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byV(0L) == 10L)
    assert(byV(8L) == 1L)      // pendant closes {0,7,8} through the hub
    assert(!byV.contains(20L)) // isolated edge contributes nothing
  }

  test("q66 ntile buckets are contiguous, balanced, and ordered by balance") {
    val rows = operators.Analytics.q66.run(spark, sfDir)
      .select(col("c_mktsegment"), col("quartile"), col("pct_rank"))
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => (1 to 4).contains(r.getInt(1))))
    assert(rows.forall { r => val p = r.getDouble(2); p >= 0.0 && p <= 1.0 })
    // per segment: quartile sizes differ by at most 1 (ntile contract)
    rows.groupBy(_.getString(0)).foreach { case (_, seg) =>
      val sizes = seg.groupBy(_.getInt(1)).map(_._2.length)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("q69 unpivot emits one long row per (flag, measure), Expand-planned") {
    val q = operators.Analytics.q69.run(spark, sfDir)
    val flags = q.select(col("l_returnflag")).distinct().count()
    assert(q.count() === flags * 3)
    assert(q.queryExecution.executedPlan.toString.contains("Expand"),
      "unpivot should plan as a single Expand")
  }

  test("q72 hash sample is reproducible and near the 10% target rate") {
    val a = operators.Analytics.q72.run(spark, sfDir).collect().map(_.getLong(0))
    val b = operators.Analytics.q72.run(spark, sfDir).collect().map(_.getLong(0))
    assert(a.sameElements(b), "sample must be bit-stable across runs")
    val total = sources.Tables.documents(spark, sfDir).count()
    val rate = a.length.toDouble / total
    assert(rate > 0.03 && rate < 0.25, s"sample rate $rate far from 10%")
  }

  test("connectedComponents labels a known graph correctly (production operator)") {
    // clusters: {1,2,3,4} (path — exercises multi-round propagation +
    // pointer doubling), {5,6} (edge), {7} (singleton skips the loop)
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = operators.Dedup.connectedComponents(docs, pairs)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents on an edge-free graph returns every node as its own cluster") {
    import spark.implicits._
    val docs = Seq(10L, 11L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = operators.Dedup.connectedComponents(docs, noPairs)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 11L -> 11L))
  }

  test("q73 clusters are consistent with q47 pairs (same-cluster iff connected)") {
    val cc = operators.Dedup.q73.run(spark, sfDir)
      .select(col("doc_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = operators.Dedup.q47.run(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every near-dup pair must land in the same cluster
    pairs.foreach { case (a, b) =>
      assert(cc(a) === cc(b), s"pair ($a,$b) split across clusters")
    }
    // every cluster label must be the min doc_id of its members
    cc.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl === members.map(_._1).min)
    }
  }

  test("q191 Welch t matches a driver-side recomputation; df within Welch bounds") {
    val rows = operators.Analytics.q191.run(spark, sfDir).collect()
    assert(rows.length == 3) // {A,N,R} choose 2
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { r =>
      val (xa, xb) = (raw(r.getString(0)), raw(r.getString(1)))
      assert(r.getLong(2) == xa.length && r.getLong(3) == xb.length)
      def stats(x: Array[Double]) = {
        val n = x.length
        val m = x.sum / n
        (n, m, x.map(v => (v - m) * (v - m)).sum / (n - 1))
      }
      val (na, ma, va) = stats(xa)
      val (nb, mb, vb) = stats(xb)
      val se2 = va / na + vb / nb
      val t = (ma - mb) / math.sqrt(se2)
      val df = se2 * se2 /
        (va / na * (va / na) / (na - 1) + vb / nb * (vb / nb) / (nb - 1))
      // driver sums are plain doubles (order-sensitive), so tolerance,
      // not equality — the exact path is what the DuckDB oracle pins
      assert(math.abs(r.getDouble(6) - t) < 1e-6, s"t ${r.getDouble(6)} vs $t")
      assert(math.abs(r.getDouble(7) - df) / df < 1e-6)
      // Welch df is bracketed by min(n)-1 and the pooled n_a+n_b-2
      assert(r.getDouble(7) >= math.min(na, nb) - 1 - 1e-9)
      assert(r.getDouble(7) <= na + nb - 2 + 1e-9)
    }
  }

  test("q195 IVM cutoff is non-vacuous: every delta term carries rows") {
    // the oracle-hash equality proves the delta algebra ONLY if the
    // cutoff genuinely splits both inputs — all four (O, L) branch
    // combinations must be populated or the test is a tautology
    val cut = lit("1997-07-01").cast("date")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), (col("o_orderdate").cast("date") >= cut).as("od"))
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), (col("l_shipdate").cast("date") >= cut).as("ld"))
    val branches = o.join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("od"), col("ld")).count()
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    val want = Seq((false, false), (false, true), (true, false), (true, true))
    want.foreach(k => assert(branches.getOrElse(k, 0L) > 0L,
      s"IVM term $k is empty — the cutoff does not exercise the cross terms"))
  }

  test("q194 selected values satisfy the k-th order statistic definition") {
    val c = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
    val n = c.count()
    val rows = operators.Scalars.q194.run(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("p50", "p90"))
    val wantK = Map("p50" -> (n + 1) / 2, "p90" -> (9 * n + 9) / 10)
    rows.foreach { r =>
      val (q, k, v) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(k == wantK(q))
      // the k-th order statistic x: #(<= x) >= k and #(< x) < k
      val le = c.filter(col("v") <= v).count()
      val lt = c.filter(col("v") < v).count()
      assert(le >= k && lt < k, s"$q: value $v is not the $k-th of $n (le=$le, lt=$lt)")
    }
  }

  test("q190 hashed features reconstruct per-doc token mass; buckets in range") {
    val feats = operators.TextOps.q190.run(spark, sfDir).collect()
    assert(feats.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 64))
    assert(feats.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= r.getLong(2)))
    // sum of bucket counts per doc == that doc's token count (hashing
    // redistributes, never drops or duplicates)
    val massByDoc = feats.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val want = operators.Dedup.tokenized(spark, sfDir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(massByDoc == want.filter(_._2 > 0))
    // with 64 buckets over a real vocabulary, collisions must exist —
    // the ledger column is live, not constant 1
    assert(feats.exists(_.getLong(3) > 1), "expected hash collisions at dim 64")
  }

  test("q262 SPRT constants are exactly the IntLog2 formula on their literals") {
    import graft.functions.IntLog2
    val Seq(l3, l4, l8, l9, l19) = Seq(3L, 4L, 8L, 9L, 19L).map { n =>
      spark.sql(s"SELECT ${IntLog2.sparkSql(s"${n}L")} AS v")
        .collect()(0).getLong(0)
    }
    assert(operators.Analytics.SprtSucc == l4 - l3)   // L2(p1/p0) = L2(4/3)
    assert(operators.Analytics.SprtFail == l8 - l9)   // L2((1-p1)/(1-p0)) = L2(8/9)
    assert(operators.Analytics.SprtThr == l19)        // L2((1-β)/α) = L2(19)
  }

  test("q262 SPRT walk: closed-form crossing indices on deterministic sequences") {
    import spark.implicits._
    // h1 after ⌈Thr/Succ⌉ = ⌈4390912/524288⌉ = 9 straight successes;
    // h0 after ⌈Thr/|Fail|⌉ = ⌈4390912/131072⌉ = 34 straight failures;
    // 3 successes never reach a boundary → continue
    val obs =
      (1 to 20).map(i => ("all_succ", i.toLong, i.toLong, 1L)) ++
        (1 to 40).map(i => ("all_fail", i.toLong, i.toLong, 0L)) ++
        (1 to 3).map(i => ("short", i.toLong, i.toLong, 1L))
    val out = operators.Analytics.sprt(
        obs.toDF("arm", "ts", "event_id", "succ"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("all_succ")
    assert(s.getString(6) == "h1" && s.getLong(4) == 9L &&
      s.getLong(5) == 9L * operators.Analytics.SprtSucc)
    val f = out("all_fail")
    assert(f.getString(6) == "h0" && f.getLong(4) == 34L &&
      f.getLong(5) == 34L * operators.Analytics.SprtFail)
    val c = out("short")
    assert(c.getString(6) == "continue" && c.isNullAt(4) && c.isNullAt(5))
    // once crossed, later observations must not move the decision index:
    // all_succ crossed at 9 even though 20 observations arrived
    assert(s.getLong(1) == 20L && f.getLong(1) == 40L)
  }
}
