package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Ordered-prefix semantics of the funnel sequencer (operators.Temporal
  * .funnelPerUser) on hand-built event logs — the cases where naive
  * per-type MINs and the ordered funnel disagree.
  */
class TemporalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // (user_id, us, event_id, event_type)
  private def per(rows: Seq[(Long, Long, Long, String)])
      : Map[Long, (Option[Long], Option[Long], Option[Long])] = {
    import spark.implicits._
    operators.Temporal.funnelPerUser(
        rows.toDF("user_id", "us", "event_id", "event_type"))
      .collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> ((opt(1), opt(2), opt(3)))
      }.toMap
  }

  test("events before the prior stage do not convert") {
    val got = per(Seq(
      // user 1: click at t=5 precedes the first view (t=10) — not a
      // conversion; the click at t=20 is; purchase at t=15 precedes the
      // qualified click — only the t=30 purchase counts
      (1L, 5L, 1L, "click"), (1L, 10L, 2L, "view"), (1L, 15L, 3L, "purchase"),
      (1L, 20L, 4L, "click"), (1L, 30L, 5L, "purchase"),
      // user 2: views only — no click/purchase stages
      (2L, 7L, 6L, "view"), (2L, 9L, 7L, "view"),
      // user 3: full funnel in order
      (3L, 1L, 8L, "view"), (3L, 2L, 9L, "click"), (3L, 3L, 10L, "purchase")))
    assert(got(1L) == ((Some(10L), Some(20L), Some(30L))))
    assert(got(2L) == ((Some(7L), None, None)))
    assert(got(3L) == ((Some(1L), Some(2L), Some(3L))))
  }

  test("same-microsecond ties resolve by event_id, both directions") {
    // click shares the view's timestamp: event_id decides whether it is
    // at-or-after the view (id greater) or before it (id smaller)
    val after = per(Seq((1L, 10L, 1L, "view"), (1L, 10L, 2L, "click")))
    assert(after(1L) == ((Some(10L), Some(10L), None)))
    val before = per(Seq((1L, 10L, 2L, "view"), (1L, 10L, 1L, "click")))
    assert(before(1L) == ((Some(10L), None, None)))
  }

  test("a user with no view never converts later stages") {
    val got = per(Seq(
      (1L, 1L, 1L, "click"), (1L, 2L, 2L, "purchase")))
    assert(got(1L) == ((None, None, None)))
  }

  // --- q224's greedy pair-merge round (operators.TextOps.mergeRound) ---

  private def streamOf(docs: Seq[Seq[String]])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    docs.zipWithIndex.flatMap { case (toks, d) =>
      toks.zipWithIndex.map { case (t, i) => (d.toLong, (i + 1).toLong, t) }
    }.toDF("doc_id", "p", "tok")
  }

  private def runRound(docs: Seq[Seq[String]])
      : (Seq[Seq[String]], (String, Long, Long, Long, Long)) = {
    val (next, stats, nx) = operators.TextOps.mergeRound(streamOf(docs), 1)
    val out = next.orderBy("doc_id", "p").collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getLong(1)).map(_.getString(2)).toSeq)
    val s = stats.head()
    next.unpersist(); nx.unpersist()
    (out, (s.getString(1), s.getLong(2), s.getLong(3), s.getLong(4),
      s.getLong(5)))
  }

  test("mergeRound: equal-token runs merge greedily left-to-right") {
    // "a a a a a" : 4 matches of (a,a) but only 2 greedy merges; odd
    // run "a a a" leaves an orphan
    val (out, (pair, nMatches, nMerged, lenAfter, _)) =
      runRound(Seq(Seq("a", "a", "a", "a", "a"), Seq("a", "a", "a")))
    assert(pair == "a a" && nMatches == 6 && nMerged == 3)
    assert(out == Seq(Seq("a a", "a a", "a"), Seq("a a", "a")))
    assert(lenAfter == 5)
  }

  test("mergeRound: randomized streams match a serial greedy reference") {
    val rnd = new scala.util.Random(99)
    def serialRound(docs: Seq[Seq[String]]): (Seq[Seq[String]], String) = {
      val counts = docs.flatMap(d => d.zip(d.drop(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val (a, b) = counts.toSeq
        .sortBy { case ((x, y), c) => (-c, x, y) }.head._1
      val merged = docs.map { d =>
        val out = scala.collection.mutable.Buffer[String]()
        var i = 0
        while (i < d.length) {
          if (i + 1 < d.length && d(i) == a && d(i + 1) == b) {
            out += s"$a $b"; i += 2
          } else { out += d(i); i += 1 }
        }
        out.toSeq
      }
      (merged, s"$a $b")
    }
    for (trial <- 1 to 5) {
      val alphabet = Seq("a", "b", "c")
      val docs = Seq.fill(4 + rnd.nextInt(3))(
        Seq.fill(5 + rnd.nextInt(10))(alphabet(rnd.nextInt(3))))
      val (expectDocs, expectPair) = serialRound(docs)
      val (gotDocs, (gotPair, _, _, _, _)) = runRound(docs)
      assert(gotPair == expectPair, s"trial $trial pair")
      assert(gotDocs == expectDocs, s"trial $trial docs=$docs")
    }
  }

  test("mergeRound: argmax pair with lexicographic ties, rewrite renumbers") {
    // (b,c) and (x,y) both occur twice: lexicographically smaller wins
    val (out, (pair, nMatches, nMerged, _, vocab)) = runRound(Seq(
      Seq("b", "c", "x", "y"), Seq("b", "c", "x", "y", "z")))
    assert(pair == "b c" && nMatches == 2 && nMerged == 2)
    assert(out == Seq(Seq("b c", "x", "y"), Seq("b c", "x", "y", "z")))
    assert(vocab == 4) // {b c, x, y, z}
  }

  test("q243 restatementAudit: only restated days survive, deltas exact") {
    import spark.implicits._
    // max(us) = 100; lag 10 → early cutoff = 90. Day semantics:
    //  dayA: both rows ≤ 90                  → NOT restated (filtered out)
    //  dayB: one row ≤ 90, one after         → restated, delta = late cents
    //  dayC: all rows after the cutoff       → restated from zero
    //  dayD: boundary — us == 90 counts as early (<= cutoff)
    val ev = Seq(
      ("dayA", 10L, 5L), ("dayA", 20L, 7L),
      ("dayB", 30L, 11L), ("dayB", 95L, 13L),
      ("dayC", 96L, 17L), ("dayC", 100L, 19L),
      ("dayD", 90L, 23L), ("dayD", 91L, 29L)
    ).toDF("day", "us", "cents")
    val got = operators.Temporal.restatementAudit(ev, lagUs = 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("dayB", 1L, 2L, 11L, 24L, 13L),
      ("dayC", 0L, 2L, 0L, 36L, 36L),
      ("dayD", 1L, 2L, 23L, 52L, 29L)))
  }

  test("q243 restatementAudit: nothing restated when all data is early") {
    import spark.implicits._
    val ev = Seq(("d1", 1L, 2L), ("d2", 3L, 4L)).toDF("day", "us", "cents")
    // cutoff = 3 - 0 = 3; both rows <= 3 → empty result
    assert(operators.Temporal.restatementAudit(ev, lagUs = 0L).count() == 0L)
  }

  test("q261 decomposition identity: exactly-periodic series has zero remainder") {
    import spark.implicits._
    // v(day) = 1000 + p(i % 7) with Σp = 0: every 7-day window sums to
    // 7000, so the centered MA recovers the constant trend exactly, the
    // detrended series IS the seasonal pattern, and the remainder must
    // be identically zero on every full-window day
    val p = Seq(3L, -1L, 4L, -1L, -5L, 9L, -9L)
    assert(p.sum == 0L)
    val start = java.time.LocalDate.of(2024, 3, 1)
    val daily = (0 until 28).map { i =>
      (java.sql.Date.valueOf(start.plusDays(i.toLong)), 1000L + p(i % 7))
    }.toDF("day", "v_cents")
    val rows = operators.Temporal.stlDecompose(daily).collect()
    assert(rows.length == 28)
    val full = rows.filter(!_.isNullAt(2)) // trend defined ⇔ full window
    assert(full.length == 22)              // 28 − 2·3 edge days
    assert(full.forall(_.getLong(2) == 7000L), "trend_x7 must be the constant 7·1000")
    assert(full.forall(_.getLong(6) == 0L), "remainder must vanish on a periodic series")
    // seasonal recovers 7·p(wd): check via any full row's s_num/s_den
    assert(full.forall { r =>
      val (sNum, sDen) = (r.getLong(4), r.getLong(5))
      sNum % sDen == 0 && p.contains(sNum / sDen / 7)
    })
  }

  test("q87 and q218 split on a same-microsecond view and click") {
    import spark.implicits._
    // one user: a view and a click in the same microsecond, the click
    // with the larger event_id. q218's (us, event_id) order puts the
    // click after the view; q87's strict ts > t_view does not.
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00.000001")
    val dir = java.nio.file.Files.createTempDirectory("graft-q87-q218").toString
    Seq((1L, 7L, "view", ts, 1.0), (2L, 7L, "click", ts, 1.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    try {
      val q87 = operators.Temporal.q87.run(spark, dir).head()
      assert((q87.getLong(0), q87.getLong(1)) == ((1L, 0L)))
      val q218 = operators.Temporal.q218.run(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(q218 == Map("1_view" -> 1L, "2_click" -> 1L, "3_purchase" -> 0L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
