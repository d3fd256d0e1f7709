package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions._
import graft.ml.Recommender

/** Non-oracle coverage of the recommender pipeline (SURVEY.md §5 items
  * 3-5): ALS quality vs the pseudo-avg baseline (the reference's only
  * correctness criterion, SVDMovieLensSparkJava.java:470), clamp-range
  * properties of the fidelity scorer, and the S4 predictions sink
  * golden line format (TestingData.java:34-36).
  */
class RecommenderSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ALS with fixed seed beats the pseudo-avg baseline MAE") {
    val baselineMae = Recommender.q32.run(spark, sfDir)
      .select(col("mae")).head().getDouble(0)
    val alsMae = Recommender.q36.run(spark, sfDir)
      .select(col("mae")).head().getDouble(0)
    assert(alsMae > 0.0)
    assert(alsMae < baselineMae,
      s"ALS MAE $alsMae should beat baseline MAE $baselineMae")
  }

  test("reference-scale ALS (rank 64, regParam 0.015) beats pseudo-avg on the holdout") {
    // The reference's actual hyperparameters (SVDMovieLensSparkJava
    // .java:38-44: MAX_FEATURES=64, K=0.015): one spec-tagged fit at
    // full rank, excluded from the bench (q36 runs the fixture-scaled
    // rank 8). Acceptance = the reference's only correctness check
    // (:470): holdout MAE must beat the pseudo-avg baseline predictor.
    // The fixture-derived ratings are value-hash noise with NO latent
    // structure (no factorization can beat an item-mean there), so this
    // test plants a deterministic rank-4 user×item interaction — item
    // MAIN effects cancel, leaving exactly the signal a baseline
    // predictor cannot express and a factor model must recover.
    import graft.functions.GraftFunctions.{clamp => clampF, pseudoAvg}
    import spark.implicits._
    val rows = for { u <- 0 until 150; i <- 0 until 80 } yield {
      def uf(k: Int) = ((u * 7 + k * 13) % 17) / 17.0 - 0.47
      def vf(k: Int) = ((i * 11 + k * 5) % 19) / 19.0 - 0.47
      val s = (0 until 4).map(k => uf(k) * vf(k)).sum
      val rating = math.max(1L, math.min(5L, math.round(3.0 + 8.0 * s))).toFloat
      (u, i, rating, (u * 31 + i * 17) % 5)
    }
    val r = rows.toDF("user", "item", "rating", "fold")
    val train = r.filter(col("fold") =!= 0).cache()
    val test = r.filter(col("fold") === 0).cache()
    val model = Recommender.als(train, rank = 64)
    val alsMae = model.predict(test) // the inner join drops cold-start rows
      .agg(avg(abs(col("rating") - clampF(col("prediction"), 1.0, 5.0))))
      .head().getDouble(0)
    model.unpersist()
    val trainStats = train.groupBy(col("item"))
      .agg(clampF(pseudoAvg(sum(col("rating")).cast("double"), count(lit(1))), 1.0, 5.0)
        .as("pred"))
    val baseMae = test.join(broadcast(trainStats), Seq("item"), "left")
      .agg(avg(abs(col("rating") - coalesce(col("pred"), lit(PseudoAvgPrior)))))
      .head().getDouble(0)
    train.unpersist(); test.unpersist()
    assert(alsMae > 0.0)
    assert(alsMae < baseMae,
      s"rank-64 ALS holdout MAE $alsMae should beat pseudo-avg baseline $baseMae")
  }

  test("clamped-fold scorer stays within [1,5] for every row (F2 property)") {
    val scored = Recommender.q34.run(spark, sfDir)
    val outOfRange = scored.filter(col("pred") < 1.0 || col("pred") > 5.0).count()
    assert(outOfRange === 0)
    assert(scored.count() > 0)
  }

  test("pseudo-avg lies between the prior (3.23) and the sample mean") {
    val rows = Recommender.q31.run(spark, sfDir)
      .select(col("rating_avg"), col("pseudo_avg")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (avg, pseudo) = (r.getDouble(0), r.getDouble(1))
      val (lo, hi) = if (avg < PseudoAvgPrior) (avg, PseudoAvgPrior) else (PseudoAvgPrior, avg)
      assert(pseudo >= lo - 1e-12 && pseudo <= hi + 1e-12,
        s"pseudo_avg $pseudo outside [$lo, $hi]")
    }
  }

  test("drop-in pipeline: TSV train -> ALS -> TSV test -> predictions + MAE") {
    import graft.ml.RecommenderPipeline
    val dir = java.nio.file.Files.createTempDirectory("pipeline")
    val (tr, te) = (dir.resolve("u.data"), dir.resolve("u1.test"))
    val trW = java.nio.file.Files.newBufferedWriter(tr)
    val teW = java.nio.file.Files.newBufferedWriter(te)
    var n = 0
    for (u <- 1 to 60; k <- 1 to 20) {
      val i = (u * 13 + k * 29) % 50 + 1
      val r = 1 + (u * 3 + i * 7) % 5
      val line = s"$u\t$i\t$r\t${880000000 + n}\n"
      if (n % 6 == 0) teW.write(line) else trW.write(line)
      n += 1
    }
    // the ratings above average exactly 3.0; these move the training
    // mean off that round number, so the cold-start check below can tell
    // the mean from a constant
    for (i <- 1 to 25) trW.write(s"61\t$i\t5\t${880000000 + n + i}\n")
    // a cold-start pair: user 999 and item 999 never appear in training
    teW.write("999\t999\t5\t880999999\n")
    trW.close(); teW.close()
    val out = dir.resolve("preds").toString
    spark.catalog.clearCache() // safe between runs, as Verify and Bench do
    // earlier tests' memos (q36's factors) stay pinned on purpose
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val res = RecommenderPipeline.run(spark, tr.toString, te.toString, out,
      rank = 8, maxIter = 5)
    assert(spark.sharedState.cacheManager.isEmpty, "the pipeline run left a Dataset cached")
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore,
      "the pipeline run left an RDD persisted")
    assert(res.nPredictions === 201)
    assert(res.mae > 0.0 && res.mae < 1.2,
      s"pipeline MAE ${res.mae} should beat a random predictor")
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.length === 201)
    val fields = lines.map(_.split("\t", -1))
    assert(fields.forall(_.length == 5))
    // rating field is the integer form, as the reference prints it
    assert(fields.forall(f => !f(2).contains(".")))
    // the cold-start row is scored with the training split's global
    // mean, clamped into [1,5]
    import scala.jdk.CollectionConverters._
    val trainRatings = java.nio.file.Files.readAllLines(tr).asScala
      .map(_.split("\t")(2).toDouble)
    val globalMean = math.max(1.0, math.min(5.0, trainRatings.sum / trainRatings.size))
    val cold = fields.filter(f => f(0) == "999" && f(1) == "999")
    assert(cold.length === 1)
    assert(BigDecimal(cold.head(3)) === BigDecimal(globalMean).setScale(4,
      BigDecimal.RoundingMode.HALF_UP))
    // the MAE observed on the write agrees with the sink's abs-diff column
    val sinkMae = fields.map(_(4).toDouble).sum / fields.length
    assert(math.abs(res.mae - sinkMae) < 1e-4, s"observed MAE ${res.mae} != sink MAE $sinkMae")
  }

  test("headerless TSV ratings reader parses MovieLens-format lines (S1/S2)") {
    val dir = java.nio.file.Files.createTempDirectory("ratings_tsv")
    val f = dir.resolve("u.data")
    // the reference's input shape: user \t item \t rating \t epoch
    java.nio.file.Files.writeString(f,
      "196\t242\t3\t881250949\n186\t302\t3\t891717742\n22\t377\t1\t878887116\n")
    val df = graft.sources.Tables.ratingsTsv(spark, f.toString)
    assert(df.schema.fieldNames.toSeq === Seq("user_id", "item_id", "rating", "ts"))
    val rows = df.orderBy(col("user_id")).collect()
    assert(rows.length === 3)
    assert(rows.head.getInt(0) === 22 && rows.head.getInt(2) === 1)
    assert(rows.last.getLong(3) === 881250949L)
  }

  test("predictions TSV sink writes the reference's 5-field line format") {
    val terms = transform(sequence(lit(0), lit(Recommender.Rank - 1)),
      f => lit(0.01) * f)
    val scored = Recommender.ratings(spark, sfDir)
      .filter(col("user_id") < 3)
      .withColumn("pred", clamp(lit(1.0) + aggregate(terms, lit(0.0), _ + _), 1.0, 5.0))
    val out = java.nio.file.Files.createTempDirectory("preds").toString + "/tsv"
    Recommender.writePredictionsTsv(scored, out)
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.nonEmpty)
    lines.foreach { l =>
      val fields = l.split("\t", -1)
      assert(fields.length === 5, s"expected 5 TSV fields in '$l'")
      assert(fields(0).toLong >= 0 && fields(1).toLong >= 0)
      val (rating, pred, diff) = (fields(2).toDouble, fields(3).toDouble, fields(4).toDouble)
      assert(math.abs(math.abs(rating - pred) - diff) < 1e-3)
    }
  }

  test("training telemetry reconstructs the convergence curve; endpoint matches q36's fit") {
    import graft.ml.RecommenderPipeline
    val train = Recommender.trainInput(spark, sfDir)
    val (curve, model) = RecommenderPipeline.trainingCurve(train, maxIter = 10)
    assert(curve.map(_.iter) === (1 to 10))
    assert(curve.forall(m => m.rmse > 0 && java.lang.Double.isFinite(m.rmse)))
    assert(curve.last.rmse < curve.head.rmse,
      s"ALS train RMSE should improve: ${curve.head.rmse} -> ${curve.last.rmse}")
    assert(curve.head.delta.isNaN)
    curve.sliding(2).foreach { case Seq(a, b) =>
      assert(math.abs(b.delta - (a.rmse - b.rmse)) < 1e-12, s"delta inconsistent at iter ${b.iter}")
    }
    // same seed + params => the observed fit is the SAME trajectory as
    // q36's memoized production fit
    val q36mae = Recommender.q36.run(spark, sfDir).select(col("mae")).head().getDouble(0)
    val mae = model.predict(train)
      .agg(avg(abs(col("rating") - clamp(col("prediction"), 1.0, 5.0)))).head().getDouble(0)
    model.unpersist()
    assert(math.abs(mae - q36mae) < 1e-9,
      s"telemetry endpoint MAE $mae != q36 MAE $q36mae")
  }

  private def auc(scored: Seq[(Long, Long)]): (Long, Long, Long, Double) = {
    import spark.implicits._
    val r = Recommender.aucOf(scored.toDF("score", "pos")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  test("aucOf: known endpoints — perfect 1.0, reversed 0.0, all-tied 0.5") {
    // perfect separation: every positive outscores every negative
    assert(auc(Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))) == (2L, 2L, 8L, 1.0))
    // perfectly wrong ordering
    assert(auc(Seq((1L, 1L), (2L, 0L))) == (1L, 1L, 0L, 0.0))
    // a single fully-tied group: chance-level by the tie-average rule
    assert(auc(Seq((5L, 1L), (5L, 0L))) == (1L, 1L, 1L, 0.5))
  }

  test("aucOf matches the O(pos*neg) pair-counting definition on a mixed case") {
    // AUC = (#concordant + 0.5 * #tied) / (pos * neg), brute-forced
    val rows = Seq[(Long, Long)](
      (10L, 1L), (10L, 0L), (20L, 1L), (20L, 1L), (15L, 0L), (30L, 0L), (25L, 1L))
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    val want = pos.flatMap(p => neg.map(n =>
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0)).sum / (pos.size * neg.size)
    val (np, nn, _, got) = auc(rows)
    assert(np == pos.size && nn == neg.size)
    assert(math.abs(got - want) < 1e-15, s"auc $got != pair-counted $want")
  }

  test("q186/q187 fixture coherence: counts reconcile and rates are probabilities") {
    val nRatings = Recommender.ratings(spark, sfDir).count()
    val a = Recommender.q186.run(spark, sfDir).head()
    assert(a.getLong(0) + a.getLong(1) == nRatings)
    val aucV = a.getDouble(3)
    assert(aucV > 0.0 && aucV < 1.0)
    val cal = Recommender.q187.run(spark, sfDir).collect()
    assert(cal.map(_.getLong(1)).sum == nRatings)
    cal.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // mean_pred
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0) // pos_rate
      assert(r.getLong(2) <= r.getLong(1)) // npos <= n
    }
  }

  test("ndcgOf: perfect ordering scores 1.0; reversed matches the hand-computed ppm") {
    import spark.implicits._
    // user 1: scores aligned with ratings (perfect); user 2: reversed.
    // dcg weights: w1=1000000, w2=630930, w3=500000 (Recommender.DcgWeights)
    // ideal dcg = 3*w1 + 2*w2 + 1*w3 = 4,761,860
    // reversed dcg = 1*w1 + 2*w2 + 3*w3 = 3,761,860
    val j = Seq(
      (1L, 1L, 3L, 300L), (1L, 2L, 2L, 200L), (1L, 3L, 1L, 100L),
      (2L, 1L, 3L, 100L), (2L, 2L, 2L, 200L), (2L, 3L, 1L, 300L))
      .toDF("user_id", "item_id", "rating", "score")
    val r = Recommender.ndcgOf(j).head()
    assert(r.getLong(0) == 2L) // n_users
    assert(r.getLong(2) == 1L) // only user 1 is perfect
    val reversedPpm = 1000000L * 3761860L / 4761860L
    assert(r.getLong(1) == 1000000L + reversedPpm,
      s"sum_ndcg_ppm ${r.getLong(1)} != ${1000000L + reversedPpm}")
  }

  test("q198 fixture coherence: ndcg in (0,1], perfect users bounded by total") {
    val r = Recommender.q198.run(spark, sfDir).head()
    assert(r.getLong(0) > 0)
    assert(r.getLong(2) <= r.getLong(0))
    val m = r.getDouble(3)
    assert(m > 0.0 && m <= 1.0, s"mean ndcg $m out of range")
  }
}
