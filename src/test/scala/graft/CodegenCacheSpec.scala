package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import GraftSession.{CodegenCacheEntries, CodegenCacheKey}

/** Spark's JVM-wide generated-class cache under graft's defaults: repeated
  * runs of a query find their compiled classes instead of recompiling them,
  * and the JVM default graft installs yields to a host's own value.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.builder(4).appName("graft-test").getOrCreate()

  test("the session's codegen cache is graft's size") {
    assert(spark.conf.get(CodegenCacheKey) === CodegenCacheEntries.toString)
  }

  test("a third round of one-shot, sketch and fixpoint queries compiles no class") {
    val queries = Seq("q01", "q182", "q203", "q215")
      .map(n => SparkEntry.registry.find(_.name.startsWith(n + "_")).get)
    def round(): Unit = {
      queries.foreach(q => q.run(spark, sfDir).collect())
      spark.catalog.clearCache()
    }
    // every compile (a cache miss) adds one sample of its source size
    def compiled = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    round(); round()
    val before = compiled
    round()
    assert(compiled - before === 0L)
  }

  test("the JVM default never overrides a value the host set") {
    val saved = sys.props.get(CodegenCacheKey)
    try {
      sys.props(CodegenCacheKey) = "321"
      GraftSession.installJvmDefaults()
      assert(sys.props(CodegenCacheKey) === "321")
      assert(new SparkConf().get(CodegenCacheKey) === "321")

      sys.props -= CodegenCacheKey
      GraftSession.installJvmDefaults()
      assert(new SparkConf().get(CodegenCacheKey) === CodegenCacheEntries.toString)
      assert(new SparkConf().set(CodegenCacheKey, "77").get(CodegenCacheKey) === "77")
    } finally saved match {
      case Some(v) => sys.props(CodegenCacheKey) = v
      case None    => sys.props -= CodegenCacheKey
    }
  }
}
