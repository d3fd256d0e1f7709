package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.{oracled, rowsOnly}
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** The reference's whole pipeline — ingest → per-entity stats → factor
  * model → scoring join → MAE/RMSE evaluation → predictions sink
  * (SURVEY.md §3 entry points 1-3) — re-expressed Spark-first.
  *
  * Training is the blocked ALS of [[Als]] (`spark_approach` per
  * BASELINE.json), replacing both the serial driver-only SGD (CalcFeatures,
  * SVDMovieLensSparkJava.java:409-449) and the dead accumulator-based
  * distributed twin (spark_CalcFeatures :366-406). The oracle-checked
  * queries use a *deterministic rational factor matrix* instead of
  * learned factors, so the scoring join + fold + clamp + metric math is
  * verified bit-exactly in DuckDB while ALS itself is covered by the
  * ScalaTest spec (fixed seed, beats the pseudo-avg baseline).
  *
  * The ratings table is derived deterministically from the events
  * fixture (MovieLens itself is not shipped): user = events.user_id,
  * item = event_id % 100, rating = floor(value) % 5 + 1 — identical
  * arithmetic in Spark and DuckDB.
  */
object Recommender {

  val NumItems = 100
  val Rank = 8
  // the ALS hyperparameters shared by every fit (q36/q38, the drop-in
  // pipeline, the training curve, the specs) through [[als]], so the
  // "telemetry endpoint == q36 trajectory" claim can't silently drift
  // when one side is tuned
  val RegParam = 0.015
  val MaxIter = 10
  val Seed = 42L

  /** The one ALS fit every caller uses: [[Als]] on the columns
    * user/item/rating with [[RegParam]] (the reference's K) and [[Seed]],
    * one block per task slot (the factors do not depend on the block
    * count). The returned factors stay persisted until the caller
    * unpersists the model.
    */
  def als(train: DataFrame, rank: Int = Rank, maxIter: Int = MaxIter,
      onIteration: (Int, Double) => Unit = null): Als.Model =
    Als.fit(train, rank, maxIter, RegParam, Seed,
      train.sparkSession.sparkContext.defaultParallelism, onIteration)

  /** One ALS fit per (sfDir) — q36 (train+evaluate) and q38 (serve) share
    * the trained model instead of re-fitting, the same way a production
    * pipeline trains once and serves many; its factors stay persisted
    * for the life of the memo. The cache key is (SparkContext, data
    * dir) — see [[graft.Memo]]; hyperparameters are fixed per SURVEY §2
    * O3 (rank 8 = the reference's feature count scaled to fixture size,
    * regParam = the reference's K).
    */
  private val modelCache = scala.collection.concurrent.TrieMap.empty[String, Als.Model]

  private[graft] def alsModel(s: SparkSession, dir: String): Als.Model =
    graft.Memo.sync(modelCache, graft.Memo.key(s, dir))(als(trainInput(s, dir)))

  private[graft] def trainInput(s: SparkSession, dir: String): DataFrame =
    ratings(s, dir)
      .select(col("user_id").cast("int").as("user"),
        col("item_id").cast("int").as("item"),
        col("rating").cast("float").as("rating"))

  /** Shared SQL fragment for the derived ratings relation. */
  val ratingsSql: String =
    """(SELECT user_id,
        event_id % 100 AS item_id,
        CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating
        FROM events)"""

  def ratings(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id"),
      (col("event_id") % NumItems).as("item_id"),
      // sign-preserving % (not pmod) — the one the oracle's DuckDB %
      // computes; identical for the non-negative fixture domain either way
      (floor(col("value")).cast("long") % 5L + 1L).as("rating"))

  /** Deterministic rank-8 factor entry for entity `id`, feature `f`:
    * ((id*a + f*b) mod 97)/97 - 0.5 ∈ [-0.5, 0.5). Pure integer + one
    * IEEE division — bit-identical in any engine, stands in for learned
    * factors in the oracle-checked scoring queries.
    */
  private def factor(id: Column, f: Column, a: Int, b: Int): Column =
    pmod(id * a + f * b, lit(97)).cast("double") / 97.0 - 0.5

  private def factorSql(id: String, f: String, a: Int, b: Int): String =
    s"(CAST(($id*$a + $f*$b) % 97 AS DOUBLE)/97.0 - 0.5)"

  /** q30 — per-user rating stats: the reference's Customer table
    * (Customer.java:7-8, built SVDMovieLensSparkJava.java:196-203 via
    * two reduceByKeys + a join) as ONE aggregate.
    */
  val q30 = oracled(
    "q30_user_rating_stats",
    "per-user RatingCount/RatingSum/RatingAvg in one hash aggregate",
    s"""SELECT user_id,
        COUNT(*) AS rating_count,
        CAST(SUM(rating) AS BIGINT) AS rating_sum,
        CAST(SUM(rating) AS DOUBLE) / COUNT(*) AS rating_avg
        FROM $ratingsSql AS r
        GROUP BY user_id
        ORDER BY user_id""") { (s, dir) =>
    ratings(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("rating_count"),
        sum(col("rating")).as("rating_sum"),
        (sum(col("rating")).cast("double") / count(lit(1))).as("rating_avg"))
      .orderBy(col("user_id"))
  }

  /** q31 — per-item stats incl. the Bayesian-smoothed pseudo average
    * (Movie.java:34-41: RatingAvg = sum/count, PseudoAvg =
    * (3.23*25+sum)/(25.0+count)).
    */
  val q31 = oracled(
    "q31_item_rating_stats",
    "per-item RatingCount/RatingSum/RatingAvg/PseudoAvg",
    s"""SELECT item_id,
        COUNT(*) AS rating_count,
        CAST(SUM(rating) AS BIGINT) AS rating_sum,
        CAST(SUM(rating) AS DOUBLE) / COUNT(*) AS rating_avg,
        (3.23*25 + CAST(SUM(rating) AS DOUBLE)) / (25.0 + COUNT(*)) AS pseudo_avg
        FROM $ratingsSql AS r
        GROUP BY item_id
        ORDER BY item_id""") { (s, dir) =>
    ratings(s, dir)
      .groupBy(col("item_id"))
      .agg(
        count(lit(1)).as("rating_count"),
        sum(col("rating")).as("rating_sum"),
        (sum(col("rating")).cast("double") / count(lit(1))).as("rating_avg"),
        pseudoAvg(sum(col("rating")).cast("double"), count(lit(1))).as("pseudo_avg"))
      .orderBy(col("item_id"))
  }

  /** q32 — baseline predictor + evaluation (O5/O6/A7): predict every
    * rating with the item's pseudo-average (clamped to [1,5]) and compute
    * global MAE + RMSE. Error terms go through DECIMAL(18,9) before the
    * global sum so the aggregate is order-independent and bit-exact —
    * the discipline the reference's accumulators lacked (A6 note:
    * accumulator-in-transformation is not even exactly-once).
    */
  val q32 = oracled(
    "q32_baseline_eval_mae",
    "pseudo-avg baseline scoring join + exact-decimal MAE/RMSE",
    s"""WITH stats AS (
          SELECT item_id,
            LEAST(GREATEST((3.23*25 + CAST(SUM(rating) AS DOUBLE)) / (25.0 + COUNT(*)), 1.0), 5.0) AS pred
          FROM $ratingsSql AS r GROUP BY item_id)
        SELECT COUNT(*) AS n_predictions,
        CAST(SUM(CAST(ABS(r2.rating - stats.pred) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mae,
        SQRT(CAST(SUM(CAST((r2.rating - stats.pred)*(r2.rating - stats.pred) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)) AS rmse
        FROM $ratingsSql AS r2 JOIN stats ON r2.item_id = stats.item_id""") { (s, dir) =>
    val r = ratings(s, dir)
    val stats = r.groupBy(col("item_id"))
      .agg(clamp(pseudoAvg(sum(col("rating")).cast("double"), count(lit(1))), 1.0, 5.0).as("pred"))
    r.join(broadcast(stats), "item_id")
      .agg(
        count(lit(1)).as("n_predictions"),
        (sum(abs(col("rating") - col("pred")).cast("decimal(18,9)")).cast("double")
          / count(lit(1))).as("mae"),
        sqrt(sum(((col("rating") - col("pred")) * (col("rating") - col("pred")))
          .cast("decimal(18,9)")).cast("double") / count(lit(1))).as("rmse"))
  }

  /** The rank-8 factor score of q33 and q35, 1 + the factor dot product
    * clamped once into [1, 5]; [[rank8ScoreSql]] is its DuckDB text.
    */
  private def rank8Score: Column = {
    val terms = transform(sequence(lit(0), lit(Rank - 1)),
      f => factor(col("user_id"), f, 31, 17) * factor(col("item_id"), f, 23, 29))
    clamp(lit(1.0) + aggregate(terms, lit(0.0), (acc, t) => acc + t), 1.0, 5.0)
  }

  private val rank8ScoreSql =
    s"""LEAST(GREATEST(1.0 + list_reduce(
              list_transform(range(0, 8), f ->
                ${factorSql("user_id", "f", 31, 17)} * ${factorSql("item_id", "f", 23, 29)}),
              (a, b) -> a + b), 1.0), 5.0)"""

  /** q33 — factor scoring join (J2 + O4 idiomatic form): dot product of
    * rank-8 deterministic factor vectors, computed as a sequential
    * `aggregate()` fold (bit-identical to DuckDB's `list_reduce`),
    * clamped once at the end, evaluated with exact-decimal MAE.
    */
  val q33 = oracled(
    "q33_factor_scoring_dot",
    "rank-8 factor dot-product scoring + clamp + exact-decimal MAE",
    s"""WITH scored AS (
          SELECT rating,
            $rank8ScoreSql AS pred
          FROM $ratingsSql AS r)
        SELECT COUNT(*) AS n_predictions,
        CAST(SUM(CAST(ABS(rating - pred) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mae
        FROM scored""") { (s, dir) =>
    ratings(s, dir)
      .select(col("rating"), rank8Score.as("pred"))
      .agg(
        count(lit(1)).as("n_predictions"),
        (sum(abs(col("rating") - col("pred")).cast("decimal(18,9)")).cast("double")
          / count(lit(1))).as("mae"))
  }

  /** q34 — reference-fidelity clamped-fold scorer (O4,
    * SVDMovieLensSparkJava.java:499-513): clamp into [1,5] after EVERY
    * feature term — order-dependent on purpose. The DuckDB oracle
    * reproduces the exact fold with list_reduce over a 1.0-prepended
    * term list, proving the nonstandard semantics are preserved.
    */
  val q34 = oracled(
    "q34_fidelity_clamped_fold",
    "clamp-after-every-feature scorer, bit-exact vs sequential-fold oracle",
    s"""SELECT user_id, item_id, rating,
        list_reduce(
          list_prepend(1.0, list_transform(range(0, 8), f ->
            ${factorSql("user_id", "f", 31, 17)} * ${factorSql("item_id", "f", 23, 29)})),
          (acc, t) -> LEAST(GREATEST(acc + t, 1.0), 5.0)) AS pred
        FROM $ratingsSql AS r
        WHERE user_id < 20
        ORDER BY user_id, item_id, rating""") { (s, dir) =>
    val userVec = transform(sequence(lit(0), lit(Rank - 1)),
      f => factor(col("user_id"), f, 31, 17))
    val itemVec = transform(sequence(lit(0), lit(Rank - 1)),
      f => factor(col("item_id"), f, 23, 29))
    val pred = clampedFoldScore(userVec, itemVec)
    ratings(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("item_id"), col("rating"), pred.as("pred"))
      .orderBy(col("user_id"), col("item_id"), col("rating"))
  }

  /** q35 — predictions TSV sink format (S4, TestingData.java:34-36:
    * custId \t movieId \t rating \t predictRating \t absdiff), emitted
    * as one formatted line column; predictions fixed to DECIMAL(8,4)
    * so both engines print identical digits.
    */
  val q35 = oracled(
    "q35_predictions_tsv_format",
    "golden predictions sink line format (S4)",
    s"""WITH scored AS (
          SELECT user_id, item_id, rating,
            CAST($rank8ScoreSql AS DECIMAL(8,4)) AS pred
          FROM $ratingsSql AS r)
        SELECT user_id, item_id,
          user_id || CHR(9) || item_id || CHR(9) || rating || CHR(9) || pred
            || CHR(9) || CAST(ABS(rating - pred) AS DECIMAL(8,4)) AS line
        FROM scored
        WHERE user_id < 10
        ORDER BY user_id, item_id, line""") { (s, dir) =>
    val pred = rank8Score.cast("decimal(8,4)")
    ratings(s, dir)
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("item_id"), col("rating"), pred.as("pred"))
      .select(col("user_id"), col("item_id"),
        concat_ws("\t",
          col("user_id"), col("item_id"), col("rating"), col("pred"),
          abs(col("rating") - col("pred")).cast("decimal(8,4)")).as("line"))
      .orderBy(col("user_id"), col("item_id"), col("line"))
  }

  /** q36 — ALS train + score (O2/O3 replaced by [[Als]]): rank 8,
    * regParam 0.015 (the reference's K, SVDMovieLensSparkJava.java:43),
    * fixed seed, scored by the factor-table joins of [[Als.Model.predict]]
    * (an inner join: cold-start pairs are dropped). The factors do not
    * depend on block or core count, so the rows repeat at any core
    * count; learned factors have no DuckDB twin, so it is rows-only for
    * the driver and the ScalaTest spec asserts MAE beats the q32
    * baseline.
    */
  val q36 = rowsOnly(
    "q36_als_recommender",
    "ALS rank-8 train + broadcast-scored predictions + MAE") { (s, dir) =>
    alsModel(s, dir).predict(trainInput(s, dir))
      .agg(
        count(lit(1)).as("n_predictions"),
        avg(abs(col("rating") - clamp(col("prediction"), 1.0, 5.0))).as("mae"))
  }

  /** Predictions TSV sink (S4): writes the exact reference line format
    * (TestingData.toString, TestingData.java:34-36) as text.
    */
  def writePredictionsTsv(scored: DataFrame, path: String): Unit =
    scored.select(concat_ws("\t",
        col("user_id"), col("item_id"),
        col("rating").cast("long"), // reference prints the int rating (TestingData.java:35)
        col("pred").cast("decimal(8,4)"),
        abs(col("rating") - col("pred")).cast("decimal(8,4)")).as("value"))
      .write.mode("overwrite").text(path)

  /** q37 — holdout evaluation, the reference's actual protocol (train on
    * u.data, score u1.test — SVDMovieLensSparkJava.java:452-471): a
    * deterministic 80/20 split (event_id % 5), item stats fitted on the
    * TRAIN side only, pseudo-avg predictions scored on the TEST side.
    * Items unseen in training fall back to the global prior (3.23) —
    * the cold-start rule the Bayesian smoothing implies.
    */
  val q37 = oracled(
    "q37_holdout_eval",
    "80/20 holdout: train-side pseudo-avg scored on the test side + MAE",
    s"""WITH r AS (SELECT user_id,
          event_id % 100 AS item_id,
          CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating,
          event_id % 5 AS fold
          FROM events),
        train_stats AS (
          SELECT item_id,
            LEAST(GREATEST((3.23*25 + CAST(SUM(rating) AS DOUBLE)) / (25.0 + COUNT(*)), 1.0), 5.0) AS pred
          FROM r WHERE fold <> 0 GROUP BY item_id)
        SELECT COUNT(*) AS n_test,
        CAST(SUM(CAST(ABS(t.rating - COALESCE(s.pred, 3.23)) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mae
        FROM (SELECT * FROM r WHERE fold = 0) t
        LEFT JOIN train_stats s ON t.item_id = s.item_id""") { (s, dir) =>
    val r = Tables.events(s, dir).select(
      col("user_id"),
      (col("event_id") % NumItems).as("item_id"),
      (floor(col("value")).cast("long") % 5L + 1L).as("rating"),
      (col("event_id") % 5).as("fold"))
    val trainStats = r.filter(col("fold") =!= 0)
      .groupBy(col("item_id"))
      .agg(clamp(pseudoAvg(sum(col("rating")).cast("double"), count(lit(1))), 1.0, 5.0).as("pred"))
    r.filter(col("fold") === 0)
      .join(broadcast(trainStats), Seq("item_id"), "left")
      .agg(
        count(lit(1)).as("n_test"),
        (sum(abs(col("rating") - coalesce(col("pred"), lit(PseudoAvgPrior)))
          .cast("decimal(18,9)")).cast("double") / count(lit(1))).as("mae"))
  }

  /** q38 — the recommender's end product: top-5 item recommendations per
    * user. Serving is a broadcast join of the (bounded) item-factor
    * matrix against the user-factor matrix with a codegen'd dot product
    * and a per-user top-k window — the same blocked-crossproduct shape
    * `recommendForAllUsers` schedules, but without its per-block GEMM
    * scaffolding, which on fixture-sized factor matrices costs ~20s of
    * scheduling for <1 MB of math. At 100 TB the item side stays the
    * broadcast side (items are the bounded dimension); the user side
    * streams through map-side scoring with no shuffle before the top-k.
    * Rows-only (learned factors have no DuckDB twin); the count contract
    * is n_users × 5.
    */
  val q38 = rowsOnly(
    "q38_als_recommendations",
    "ALS top-5 per user: broadcast item factors + dot + window top-k") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VecOps
    val model = alsModel(s, dir)
    val users = model.userFactors.select(col("id").as("user"), col("features").as("uf"))
    val items = model.itemFactors.select(col("id").as("item"), col("features").as("if"))
    val scored = users.join(broadcast(items))
      .select(col("user"), col("item"), VecOps.dotF(col("uf"), col("if")).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("user")).orderBy(col("score").desc, col("item"))))
      .filter(col("rank") <= 5)
      .select(col("user"), col("rank"), col("item"))
      .orderBy(col("user"), col("rank"))
  }

  /** q39 — rating-matrix profile (fills the registry hole VERDICT r7 #7
    * flagged): per rating value, the interaction count and the exact
    * user/item coverage of the derived ratings relation — the density /
    * cold-start screen a recommender pipeline runs before committing to
    * a factorization (a rating level carried by few distinct users
    * trains per-user bias, not signal). Shape: ONE multi-distinct
    * aggregate over the 5-row rating domain — Spark plans the two
    * COUNT(DISTINCT) via expand + partial aggregation (no per-key state
    * beyond the distinct pairs), the 100 TB-safe form of a coverage
    * profile.
    */
  val q39 = oracled(
    "q39_rating_profile",
    "per-rating-value interaction count + exact distinct user/item coverage",
    s"""SELECT rating, CAST(COUNT(*) AS BIGINT) AS n_interactions,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(COUNT(DISTINCT item_id) AS BIGINT) AS n_items
       FROM $ratingsSql r
       GROUP BY rating ORDER BY rating""") { (s, dir) =>
    ratings(s, dir)
      .groupBy(col("rating"))
      .agg(count(lit(1)).as("n_interactions"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("item_id")).as("n_items"))
      .orderBy(col("rating"))
  }

  /** q86 — item-item collaborative similarity: cosine over the items'
    * user-rating vectors, computed sparsely — self-join on the shared
    * user (the only nonzero coordinates), one co-rating dot-product
    * aggregate, norms joined back broadcast, per-item top-3 by window.
    * Never materializes an item×item or item×user dense matrix; the
    * user-key self-join + (item_a, item_b) aggregate is the standard
    * co-occurrence shuffle pair, and per-user fanout is bounded by the
    * user's rating count (cap heavy raters upstream at web scale).
    * Integer ratings make every sum exact, so DuckDB matches
    * bit-for-bit including the final IEEE cosine division.
    */
  val q86 = oracled(
    "q86_item_item_similarity",
    "sparse item-item cosine top-3 via shared-user co-rating join",
    s"""WITH r AS (SELECT user_id, event_id % 100 AS item_id,
          CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating FROM events),
        co AS (
          SELECT a.item_id AS item_a, b.item_id AS item_b,
            CAST(SUM(a.rating * b.rating) AS BIGINT) AS dot
          FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id <> b.item_id
          GROUP BY a.item_id, b.item_id),
        nrm AS (
          SELECT item_id, sqrt(CAST(SUM(rating * rating) AS DOUBLE)) AS nrm
          FROM r GROUP BY item_id),
        scored AS (
          SELECT item_a, item_b, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos_sim
          FROM co JOIN nrm na ON co.item_a = na.item_id
                  JOIN nrm nb ON co.item_b = nb.item_id),
        ranked AS (
          SELECT item_a, item_b, cos_sim,
            row_number() OVER (PARTITION BY item_a ORDER BY cos_sim DESC, item_b) AS rn
          FROM scored)
        SELECT item_a, CAST(rn AS INT) AS rn, item_b, cos_sim
        FROM ranked WHERE rn <= 3 AND item_a < 20
        ORDER BY item_a, rn""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val r = ratings(s, dir)
    val a = r.alias("a")
    val b = r.alias("b")
    val co = a.join(b,
        col("a.user_id") === col("b.user_id") && col("a.item_id") =!= col("b.item_id"))
      .groupBy(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"))
      .agg(sum(col("a.rating") * col("b.rating")).as("dot"))
    val nrm = r.groupBy(col("item_id"))
      .agg(sqrt(sum(col("rating") * col("rating")).cast("double")).as("nrm"))
    val scored = co
      .join(broadcast(nrm.select(col("item_id").as("item_a"), col("nrm").as("na"))), "item_a")
      .join(broadcast(nrm.select(col("item_id").as("item_b"), col("nrm").as("nb"))), "item_b")
      .select(col("item_a"), col("item_b"),
        (col("dot").cast("double") / (col("na") * col("nb"))).as("cos_sim"))
    val w = Window.partitionBy(col("item_a")).orderBy(col("cos_sim").desc, col("item_b"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("item_a") < 20)
      .select(col("item_a"), col("rn"), col("item_b"), col("cos_sim"))
      .orderBy(col("item_a"), col("rn"))
  }

  /** Shared scorer for the ranking-metric queries (q186/q187): every
    * rating row labeled positive (rating >= 4) and scored with its
    * item's INTEGER-SCALED mean, (1000*sum) div count ∈ [1000, 5000] —
    * the per-item aggregate the reference's Movie table carries
    * (Movie.java:34-38) quantized so every downstream comparison is an
    * exact BIGINT op. The quantization is the point, not a shortcut:
    * ties (every rating of one item shares a score, distinct items can
    * collide on the 1000-grid) are exactly what the tie-aware metric
    * math must handle, and a bounded score domain (<= 4001 values) is
    * what makes the global rank aggregation scale-free below. The
    * stats join is deliberately UNHINTED (q185's principle: the item
    * side is fixture-small but corpus-scale-unbounded; stats/AQE pick
    * broadcast here and degrade to shuffle at scale).
    */
  private[graft] def scoredLabeled(s: SparkSession, dir: String): DataFrame = {
    val r = ratings(s, dir)
    val st = r.groupBy(col("item_id"))
      .agg(expr("(1000 * sum(rating)) div count(1)").as("score"))
    r.join(st, "item_id")
      .select(col("score"), when(col("rating") >= 4, 1L).otherwise(0L).as("pos"))
  }

  /** Shared SQL twin of [[scoredLabeled]]. */
  private val scoredSql: String =
    s"""r AS (SELECT user_id, event_id % 100 AS item_id,
          CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating FROM events),
        st AS (SELECT item_id,
          CAST((1000 * CAST(SUM(rating) AS BIGINT)) // COUNT(*) AS BIGINT) AS score
          FROM r GROUP BY item_id),
        s AS (SELECT st.score,
          CASE WHEN r.rating >= 4 THEN 1 ELSE 0 END AS pos
          FROM r JOIN st USING (item_id))"""

  /** Exact tie-aware AUC of a (score, pos) relation — Mann-Whitney U
    * from average ranks, entirely in BIGINT. Grouping by score value
    * first makes the rank math cardinality-bounded: with tie groups
    * (n_g, npos_g) ordered by score and cum_lt_g = rows strictly below,
    * twice the positive rank-sum is Σ npos_g * (2*cum_lt_g + n_g + 1)
    * (integral — the *2 absorbs the .5 of tie-averaged ranks), so
    *   2U = Σ - npos*(npos+1)  and  AUC = 2U / (2*npos*nneg).
    * The one window runs over the POST-AGGREGATE table, which has at
    * most |score domain| rows regardless of corpus size — a bounded
    * single-task window, not a q13-style per-row rank (the trap
    * [[graft.plans.PrefixSum]] exists for). The final division is one
    * IEEE double op on integer-exact operands < 2^53 — bit-identical
    * in any engine; BIGINT overflows only past ~2e9 rows per scorer,
    * where the rank-sum state flips to DECIMAL(38,0).
    */
  private[graft] def aucOf(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = g.withColumn("cum_lt", coalesce(sum(col("n")).over(w), lit(0L)))
    c.agg(
        sum(col("np")).as("npos"),
        sum(col("n")).as("ntot"),
        sum(col("np") * (lit(2) * col("cum_lt") + col("n") + 1)).as("r2"))
      .select(
        col("npos"),
        (col("ntot") - col("npos")).as("nneg"),
        (col("r2") - col("npos") * (col("npos") + 1)).as("u2"),
        ((col("r2") - col("npos") * (col("npos") + 1)).cast("double")
          / (lit(2) * col("npos") * (col("ntot") - col("npos"))).cast("double"))
          .as("auc"))
  }

  /** q186 — ranking-metric evaluation: exact AUC of the item-mean
    * scorer predicting "liked" (rating >= 4). The probabilistic MAE/RMSE
    * pair (q32/q37) grades magnitude error; AUC grades the ORDERING a
    * recommender actually serves, and the tie-aware Mann-Whitney form
    * ([[aucOf]]) is the exact one — sampled pair-counting estimators
    * need not apply. Plan: two partial-aggregated passes (item stats,
    * score-group stats) + one bounded window + one 1-row reduce; no
    * per-row window, no all-pairs join (the naive AUC is pos×neg
    * quadratic — this is O(N) + O(|scores| log |scores|)).
    */
  val q186 = oracled(
    "q186_auc_ranking",
    "exact tie-aware Mann-Whitney AUC of the item-mean scorer, all-BIGINT rank sums",
    s"""WITH $scoredSql,
        g AS (SELECT score, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS np
          FROM s GROUP BY score),
        c AS (SELECT score, n, np,
          COALESCE(CAST(SUM(n) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_lt
          FROM g),
        t AS (SELECT CAST(SUM(np) AS BIGINT) AS npos,
          CAST(SUM(n) AS BIGINT) AS ntot,
          CAST(SUM(np * (2 * cum_lt + n + 1)) AS BIGINT) AS r2 FROM c)
        SELECT npos, ntot - npos AS nneg,
          r2 - npos * (npos + 1) AS u2,
          CAST(r2 - npos * (npos + 1) AS DOUBLE)
            / CAST(2 * npos * (ntot - npos) AS DOUBLE) AS auc
        FROM t""") { (s, dir) =>
    aucOf(scoredLabeled(s, dir))
  }

  /** q187 — calibration (reliability) bins for the same scorer: map the
    * score to a [0, 1000] integer "probability" grid (p = (score-1000)
    * div 4 — exact, no float in the bucketing path), bucket into
    * deciles, and compare mean predicted against the empirical positive
    * rate per bucket. This is the reliability-diagram table every
    * model-eval pipeline emits next to AUC: AUC says the ordering is
    * right, calibration says the SCALE of the scores is honest. One
    * partial-aggregated pass over the scored rows; the only doubles are
    * two final divisions of exact BIGINTs (IEEE-identical both
    * engines), everything that feeds the hash gate upstream of them is
    * integer.
    */
  val q187 = oracled(
    "q187_calibration_bins",
    "decile reliability table: integer-grid predicted prob vs empirical positive rate",
    s"""WITH $scoredSql,
        b AS (SELECT LEAST((score - 1000) // 4 // 100, 9) AS bucket,
          (score - 1000) // 4 AS p, pos FROM s)
        SELECT CAST(bucket AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(pos) AS BIGINT) AS npos,
          CAST(SUM(p) AS BIGINT) AS sum_p,
          CAST(SUM(p) AS DOUBLE) / CAST(1000 * COUNT(*) AS DOUBLE) AS mean_pred,
          CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        FROM b GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
    scoredLabeled(s, dir)
      .select(least(expr("(score - 1000) div 4 div 100"), lit(9)).as("bucket"),
        expr("(score - 1000) div 4").as("p"), col("pos"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"),
        sum(col("p")).as("sum_p"),
        (sum(col("p")).cast("double") / (lit(1000) * count(lit(1))).cast("double"))
          .as("mean_pred"),
        (sum(col("pos")).cast("double") / count(lit(1)).cast("double"))
          .as("pos_rate"))
      .orderBy(col("bucket"))
  }

  /** Integer DCG discount table: w(i) = round(1e6 / log2(i+1)) for ranks
    * 1..10, precomputed as LITERALS so no transcendental function (whose
    * last-ulp behavior is engine-specific) ever executes in either
    * engine — the same parity discipline as q64's 6dp ln rounding, taken
    * to its endpoint for a table this small.
    */
  private val DcgWeights: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  /** q198 — NDCG@10 of the item-mean scorer, completing the eval ring
    * (q32/q37 magnitude error, q186 global ordering, q187 calibration):
    * NDCG grades the ORDERING EACH USER IS SERVED, position-discounted
    * the way a ranked list is actually consumed. Per user: rank the
    * rated items by predicted score (integer item mean, [[scoredLabeled]]'s
    * grid), take the top 10, DCG = Σ rating·w(rank) with the literal
    * integer discount table [[DcgWeights]]; IDCG from the
    * rating-descending ideal order; per-user NDCG in exact ppm
    * ((10^6·dcg) div idcg). Rows that tie on the full ordering key carry
    * identical (score, item, rating), so row_number nondeterminism
    * cannot change either sum. Plan: one partial-agg item-stats pass,
    * one unhinted join (q185/q186 principle), two windows over the SAME
    * per-user partition (one exchange, bounded ≤ `NumItems`·dup rows per
    * user), one 1-row reduce — per-user list evaluation at corpus scale
    * with no all-pairs step anywhere. Reference semantics: the per-item
    * means of Movie.java:34-41 serving a ranked list.
    */
  val q198 = oracled(
    "q198_ndcg_ranking",
    "mean NDCG@10 of the item-mean scorer: literal integer log2 discounts, exact ppm per user",
    s"""WITH r AS (SELECT user_id, event_id % 100 AS item_id,
          CAST(FLOOR(value) AS BIGINT) % 5 + 1 AS rating FROM events),
        st AS (SELECT item_id,
          CAST((1000 * CAST(SUM(rating) AS BIGINT)) // COUNT(*) AS BIGINT) AS score
          FROM r GROUP BY item_id),
        j AS (SELECT r.user_id, r.item_id, r.rating, st.score
          FROM r JOIN st USING (item_id)),
        w AS (SELECT user_id, rating,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY score DESC, item_id, rating DESC) AS prn,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY rating DESC, item_id) AS irn
          FROM j),
        ws AS (SELECT * FROM (VALUES ${DcgWeights.zipWithIndex
            .map { case (v, i) => s"(${i + 1}, ${v})" }.mkString(", ")})
          AS t(rnk, wt)),
        u AS (SELECT user_id,
          CAST(SUM(CASE WHEN prn <= 10
            THEN rating * (SELECT wt FROM ws WHERE rnk = prn) ELSE 0 END) AS BIGINT) AS dcg,
          CAST(SUM(CASE WHEN irn <= 10
            THEN rating * (SELECT wt FROM ws WHERE rnk = irn) ELSE 0 END) AS BIGINT) AS idcg
          FROM w GROUP BY user_id),
        p AS (SELECT user_id, (1000000 * dcg) // idcg AS ndcg_ppm FROM u)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(ndcg_ppm) AS BIGINT) AS sum_ndcg_ppm,
          CAST(SUM(CASE WHEN ndcg_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_perfect,
          CAST(SUM(ndcg_ppm) AS DOUBLE) / CAST(1000000 * COUNT(*) AS DOUBLE)
            AS mean_ndcg
        FROM p""") { (s, dir) =>
    val r = ratings(s, dir)
    val st = r.groupBy(col("item_id"))
      .agg(expr("(1000 * sum(rating)) div count(1)").as("score"))
    ndcgOf(r.join(st, "item_id"))
  }

  /** NDCG@10 summary of scored-and-labeled rating rows
    * (user_id, item_id, rating, score) — see [[q198]] for the contract.
    * Exercised on hand-computed orderings by RecommenderSpec.
    */
  private[graft] def ndcgOf(j: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("user_id"))
      .orderBy(col("score").desc, col("item_id"), col("rating").desc)
    val wi = Window.partitionBy(col("user_id"))
      .orderBy(col("rating").desc, col("item_id"))
    val wt = array(DcgWeights.map(lit): _*)
    val u = j
      .select(col("user_id"), col("rating"),
        row_number().over(wp).as("prn"), row_number().over(wi).as("irn"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("prn") <= 10, col("rating") * element_at(wt, col("prn")))
          .otherwise(0L)).as("dcg"),
        sum(when(col("irn") <= 10, col("rating") * element_at(wt, col("irn")))
          .otherwise(0L)).as("idcg"))
    u.select(col("user_id"),
        expr("(1000000 * dcg) div idcg").as("ndcg_ppm"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("ndcg_ppm")).as("sum_ndcg_ppm"),
        sum(when(col("ndcg_ppm") === 1000000L, 1L).otherwise(0L)).as("n_perfect"),
        (sum(col("ndcg_ppm")).cast("double")
          / (lit(1000000L) * count(lit(1))).cast("double")).as("mean_ndcg"))
  }

  val all: Seq[GQuery] =
    Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q86, q186, q187,
      q198)
}
