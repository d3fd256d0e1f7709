package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{AmsF2Agg, DotProduct, NormalizeText, RollingHash, SortedIntersectCount, ThetaInBounds}

/** Registers graft's native Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT rolling_hash(text) ...")` works alongside the
  * Column API.
  *
  * Two registration paths:
  *  - [[GraftExtensions]] for `SparkSession.builder().withExtensions(...)`
  *    (the production path — survives into every session derived from
  *    the builder);
  *  - [[GraftExtensions.register]] for an already-running session (the
  *    test/REPL path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // opt-in range-join bucketing (no-op until its width conf is set)
    e.injectOptimizerRule(RangeJoinBucketing)
    // SHOW GRAFT QUERIES / FUNCTIONS — delegating parser, see GraftSqlParser
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // as-of join physical planning on the builder path too (the live-
    // session path goes through AsOfJoin.register / extraStrategies)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.length == n, s"$name requires exactly $n argument(s), got ${es.length}")
      f(es)
    }

  val descriptions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash",
      info("rolling_hash", "rolling_hash(str) - polynomial byte-fold fingerprint"),
      arity("rolling_hash", 1)(es =>
        RollingHash(es.head, RollingHash.DefaultBase, RollingHash.DefaultMod))),
    ("dot_product",
      info("dot_product", "dot_product(arr, arr) - codegen'd double dot product"),
      arity("dot_product", 2)(es => DotProduct(es(0), es(1)))),
    ("sorted_intersect_count",
      info("sorted_intersect_count",
        "sorted_intersect_count(arr, arr) - overlap count of sorted bigint arrays"),
      arity("sorted_intersect_count", 2)(es => SortedIntersectCount(es(0), es(1)))),
    ("nfc_normalize",
      info("nfc_normalize", "nfc_normalize(str) - Unicode NFC canonicalization"),
      arity("nfc_normalize", 1)(es => NormalizeText(es.head, "NFC"))),
    ("theta_in_bounds",
      info("theta_in_bounds",
        "theta_in_bounds(sk, exact) - TRUE iff exact lies in the sketch's 3-sigma bounds"),
      arity("theta_in_bounds", 2)(es => ThetaInBounds(es(0), es(1), 3))),
    ("ams_f2_agg",
      info("ams_f2_agg",
        "ams_f2_agg(key) - aggregate: AMS/Count-Sketch F2 (self-join size) estimate, 256 buckets x 5 groups"),
      arity("ams_f2_agg", 1)(es =>
        AmsF2Agg(es.head, 256, 5).toAggregateExpression())))

  /** Register on a live session (functionRegistry path). */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[RangeJoinBucketing]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeJoinBucketing(spark)
  }
}
