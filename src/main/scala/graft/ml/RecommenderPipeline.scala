package graft.ml

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.clamp
import graft.sources.Tables

/** Drop-in replacement for the reference's `main()` flow
  * (SVDMovieLensSparkJava.java:165-182): load a headerless TSV training
  * split, train the factor model, score a TSV test split, write the
  * predictions TSV (TestingData format) and report count + MAE.
  *
  * A reference user switches by calling
  * `RecommenderPipeline.run(spark, "u.data", "u1.test", outDir)` — same
  * three inputs, same outputs, same metric — with training now the
  * blocked ALS of [[Recommender.als]] (64 features, the reference's
  * regularization K=0.015, fixed seed, one block per task slot) instead
  * of 768M serial driver-side SGD updates. Scoring is two broadcast left
  * joins of the user and item factor tables onto the test split with a
  * codegen'd dot product ([[Als.Model.predict]]), instead of a
  * hand-rolled closure lookup. Count and MAE are observed on the TSV
  * write itself (`Dataset.observe`), so the scored rows are computed
  * once and never cached or re-read.
  */
object RecommenderPipeline {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Result(nPredictions: Long, mae: Double)

  /** One point of the training convergence curve: the reference printed
    * per-epoch `rmse_last - rmse` (SVDMovieLensSparkJava.java:393-397);
    * `delta` is that observable (NaN for the first iteration).
    */
  final case class IterationMetric(iter: Int, rmse: Double, delta: Double)

  /** Convergence telemetry for the ALS fit: one [[Recommender.als]] fit
    * at rank [[Recommender.Rank]] whose per-iteration observer reports
    * the training RMSE after every iteration — the per-epoch curve the
    * reference's training loop printed. Returns the fitted model too
    * (persisted; the caller unpersists it), so the caller can verify the
    * curve's endpoint matches q36's production fit (RecommenderSpec).
    */
  def trainingCurve(train: DataFrame, maxIter: Int = Recommender.MaxIter)
      : (Seq[IterationMetric], Als.Model) = {
    val rmse = scala.collection.mutable.ArrayBuffer.empty[Double]
    val model = Recommender.als(train, maxIter = maxIter, onIteration = (_, r) => rmse += r)
    val metrics = rmse.indices.map { i =>
      val d = if (i == 0) Double.NaN else rmse(i - 1) - rmse(i)
      log.info(f"[als] iter ${i + 1}%2d rmse ${rmse(i)}%.6f delta $d%.6f") // the reference's printout shape
      IterationMetric(i + 1, rmse(i), d)
    }
    (metrics, model)
  }

  def run(spark: SparkSession, trainPath: String, testPath: String,
      outPath: String, rank: Int = 64, maxIter: Int = 10): Result = {
    // Entry point 1 — LoadHistory (:185-223): parallel TSV ingest. The
    // per-entity stats the reference collected to driver arrays stay
    // relational (q30/q31 shapes) and are not needed for ALS itself.
    // Cached for the fit's block building and the global mean, released below.
    val train = ratingsTsv(spark, trainPath).cache()
    var model: Als.Model = null
    try {
      // Entry point 2 — CalcFeatures (:409-449) replaced by the blocked
      // alternating-least-squares epoch protocol the dead
      // spark_CalcFeatures path (:366-406) was reaching for.
      model = Recommender.als(train, rank, maxIter)
      val globalMean = train.agg(avg(col("rating"))).head().getDouble(0)

      // Entry point 3 — ProcessTest (:452-471): score the holdout, clamp
      // into [1,5] (F2), fall back to the global mean for cold-start pairs
      // (the reference would produce INIT-dot garbage there; a missing
      // factor row gives a null dot -> prior is strictly saner). Both
      // factor tables are bounded by the entity counts, so they ride as
      // broadcasts and the test split streams through without a shuffle.
      val scored = model.predict(ratingsTsv(spark, testPath), "left")
        .select(col("user").as("user_id"), col("item").as("item_id"), col("rating"),
          clamp(coalesce(col("prediction"), lit(globalMean)), 1.0, 5.0).as("pred"))

      // write TSV and report count + MAE from the same pass
      val metrics = Observation("pipeline")
      Recommender.writePredictionsTsv(
        scored.observe(metrics,
          count(lit(1)).as("n"), avg(abs(col("rating") - col("pred"))).as("mae")),
        outPath)
      val m = metrics.get
      val result = Result(m("n").asInstanceOf[Long],
        Option(m("mae")).fold(Double.NaN)(_.asInstanceOf[Double]))
      log.info(s"Number of predictions: ${result.nPredictions}") // reference :470's printout shape
      log.info(f"Avg Abs(diff): ${result.mae}%.4f")
      result
    } finally {
      train.unpersist()
      if (model != null) model.unpersist()
    }
  }

  private def ratingsTsv(spark: SparkSession, path: String): DataFrame =
    Tables.ratingsTsv(spark, path)
      .select(col("user_id").as("user"), col("item_id").as("item"),
        col("rating").cast("float").as("rating"))

  private val Usage = "usage: RecommenderPipeline <train.tsv> <test.tsv> <outDir>"

  /** CLI: runMain graft.ml.RecommenderPipeline <train.tsv> <test.tsv> <outDir> */
  def main(args: Array[String]): Unit = args.toList match {
    case trainPath :: testPath :: outPath :: _ => cli(trainPath, testPath, outPath)
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def cli(trainPath: String, testPath: String, outPath: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.GraftSession.builder(cpus.toInt)
      .appName("graft-recommender")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, trainPath, testPath, outPath)
    spark.stop()
  }
}
