package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-resilience A/B at sf1 (VERDICT r14 #8 / r15 #5): the measured
  * answer to "does [[operators.Skew.saltedJoin]] actually buy anything
  * a 100 TB zipf head would need, and where does AQE's skew split get
  * there on its own?".
  *
  * Fixture: the sf1 lineitem with a synthetic zipf-head join key —
  * HOT_FRACTION of all rows collapse onto key 0, the rest spread
  * uniformly over [1, KEY_SPACE); the right side is one row per key
  * with a payload, made non-broadcastable by config (the regime the
  * salted join exists for — a dim too big to broadcast, small enough
  * to replicate). Consumer: groupBy(key) count+sum over the join
  * output, so every variant pays the same downstream aggregation.
  *
  * Variants, each on a FRESH session (no shared plan/shuffle state):
  *
  *   - `plain_aqe_off`   — sort-merge join, AQE skew handling off:
  *     the straggler baseline (one reducer owns the hot key's
  *     partition).
  *   - `plain_aqe_skew`  — AQE skew-join ON with thresholds sized to
  *     this fixture (the defaults — 256 MB partition threshold — are
  *     tuned for cluster-scale shuffles and never fire at sf1; a
  *     local A/B must scale them down or it measures nothing, which
  *     is itself the documented lesson: AQE skew split is
  *     threshold-gated, not free).
  *   - `salted_join`     — [[operators.Skew.saltedJoin]] on the merge
  *     path (AQE skew off): the manual up-front split that also
  *     covers the cases AQE can't re-split (bucketed inputs,
  *     pre-aggregated exchanges).
  *
  * Reports REPS timings per variant (all reps listed — variance is
  * the point at small scale) plus whether AQE's final plan actually
  * marked the join skew=true, so a silent non-trigger can't
  * masquerade as "AQE was enough". One JSON line to stdout and to
  * SPARK_GRAFT_BENCH_OUT (default SKEW_AB_local.json).
  */
object SkewBench {

  /** 60% of fact rows on key 0 — at 30% the sf1 hot partition sorted
    * in under a second and every variant measured the same scan-bound
    * floor; the straggler has to OWN the wall clock for the A/B to
    * read (see BUILDLOG r16 for the failed first calibration).
    */
  private val HotPermille = 600
  private val KeySpace = 100000L

  private def sessionFor(variant: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = GraftSession.builder(cpus.toInt)
      .appName(s"graft-skew-$variant")
      .getOrCreate()
      .newSession()
    s.sparkContext.setLogLevel("WARN")
    // the regime under test: right side must NOT broadcast
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    variant match {
      case "plain_aqe_off" =>
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      case "plain_aqe_skew" | "plain_aqe_skew_forced" =>
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        // fixture-scaled trigger: the hot partition is ~10^2 MB here,
        // not the 256 MB cluster default
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        // the un-forced variant measures AQE's ACTUAL behavior in this
        // pipeline: the groupBy(k) downstream REQUIRES the join's
        // output partitioning, so OptimizeSkewedJoin declines the
        // split (it would have to re-shuffle for the agg) — the
        // documented regime Skew.saltedJoin exists for. Forcing shows
        // what AQE's split costs when told to pay that extra exchange.
        if (variant == "plain_aqe_skew_forced")
          s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      case "salted_join" =>
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    }
    s
  }

  /** (fact with zipf-head key `k`, one-row-per-key dim). */
  private def fixture(s: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val li = graft.sources.Tables.lineitem(s, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      .withColumn("k",
        when(pmod(xxhash64(col("l_orderkey"), col("l_partkey")), lit(1000))
          < HotPermille, lit(0L))
          .otherwise(pmod(xxhash64(col("l_partkey")), lit(KeySpace)) + 1L))
    val dim = s.range(0, KeySpace + 1).select(col("id").as("k"),
      (col("id") * 37 % 1000).as("payload"))
    (li, dim)
  }

  private def run(variant: String, sfDir: String,
      reps: Int): (Seq[Double], Boolean, Long) = {
    val s = sessionFor(variant)
    val (fact, dim) = fixture(s, sfDir)
    def joined(): DataFrame = variant match {
      case "salted_join" =>
        graft.operators.Skew.saltedJoin(fact, dim, "k",
          saltSource = col("l_orderkey"), saltBuckets = 32,
          strategy = "merge")
      case _ => fact.join(dim.hint("merge"), Seq("k"))
    }
    var skewMarked = false
    var rows = 0L
    val times = (1 to reps).map { _ =>
      s.catalog.clearCache()
      val t0 = System.nanoTime()
      // the aggregate reads FACT columns (not just the key), so the
      // fact side of the shuffle carries real bytes — project the
      // consumer down to (k) alone and the hot partition is a run of
      // constant keys that lz4 flattens below every skew threshold,
      // and no engine (AQE or salt) has anything to split (the first
      // calibration's mistake, kept as a lesson in BUILDLOG r16)
      val out = joined().groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("payload")).as("p"),
          sum(col("l_extendedprice")).as("rev"),
          max(col("l_orderkey")).as("mo"))
      // materialize THIS query execution (an RDD count over its own
      // plan) so the adaptive plan we probe below is the one that ran
      // — df.count() would spawn a separate execution and leave this
      // one's AdaptiveSparkPlan unfinalized (isFinalPlan=false, no
      // skew markers ever visible)
      val qe = out.queryExecution
      rows = qe.executedPlan.execute().count()
      val el = (System.nanoTime() - t0) / 1e9
      // the split shows as an `AQEShuffleRead ... skewed` reader (or a
      // skew=true flag on the join node) in the FINAL adaptive plan
      val plan = qe.executedPlan.toString
      skewMarked = plan.contains("skewed") || plan.contains("skew=true")
      if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG"))
        System.err.println(s"=== $variant final plan ===\n$plan")
      el
    }
    (times, skewMarked, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/bench_sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val variants = Seq("plain_aqe_off", "plain_aqe_skew",
      "plain_aqe_skew_forced", "salted_join")
    val parts = variants.map { v =>
      val (ts, skewMarked, rows) = run(v, sfDir, reps)
      s""""$v":{"reps":[${ts.map(fmt).mkString(",")}],"median":${fmt(ts.sorted.apply(ts.size / 2))},"skew_marked":$skewMarked,"rows":$rows}"""
    }
    val line = s"""{"metric":"skew_ab","sf":"$sfDir","hot_permille":$HotPermille,"key_space":$KeySpace,${parts.mkString(",")}}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "SKEW_AB_local.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[skewbench] could not write $outFile: ${e.getMessage}")
    }
  }
}
