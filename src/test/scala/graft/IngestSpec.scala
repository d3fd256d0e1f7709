package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ingest

/** Dirty-input ingest (SURVEY.md §1.3): the reference dies on the first
  * malformed line; the engine's PERMISSIVE path must survive, account
  * for every line, and keep FAILFAST available for reference semantics.
  */
class IngestSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("q92 PERMISSIVE ingest survives corrupt rows and accounts for every line") {
    // corruption rule is a pure function of doc_id — recompute expectation
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val expectedBad = docs
      .filter(col("doc_id") % 7 === 3 || col("doc_id") % 11 === 5).count()
    // a second run after clearCache, as Verify and Bench run it
    for (_ <- 1 to 2) {
      val row = Ingest.q92.run(spark, sfDir).head() // must NOT throw
      val (nLines, nGood, nBad) = (row.getLong(0), row.getLong(1), row.getLong(2))
      assert(nLines === nGood + nBad, "every line is either good or bad")
      assert(nBad > 0, "fixture derivation must actually produce corrupt rows")
      assert(nGood > 0)
      assert(nBad === expectedBad)
      spark.catalog.clearCache()
    }
  }

  test("FAILFAST read of the same dirty file throws (the reference's semantics)") {
    val path = Ingest.writeDirtyTsv(spark, sfDir)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", IntegerType), StructField("item_id", IntegerType),
      StructField("rating", IntegerType), StructField("ts", LongType)))
    val strict = spark.read.schema(schema)
      .option("sep", "\t").option("mode", "FAILFAST").csv(path)
    // NB: count() alone would pass — Spark's CSV count optimization
    // skips field parsing entirely; force the columns to materialize
    val e = intercept[Exception](strict.collect())
    assert(e.getMessage != null)
  }

  test("fkAudit counts orphans, childless parents, and fan-out on a known pair") {
    import spark.implicits._
    // children: key 1 ×3, key 2 ×1, key 99 ×2 (orphans); parents: 1,2,3
    val child = Seq(1L, 1L, 1L, 2L, 99L, 99L).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("p")
    val r = operators.Ingest.fkAudit(child, "k", parent, "p", "t").head()
    assert(r.getString(0) == "t")
    assert(r.getLong(1) == 6)  // child_rows
    assert(r.getLong(2) == 3)  // child_keys
    assert(r.getLong(3) == 2)  // orphan_rows (the two 99s)
    assert(r.getLong(4) == 1)  // childless_parents (3)
    assert(r.getLong(5) == 3)  // max_fanout (key 1)
  }

  test("q192: the fixture schema is referentially closed; fan-out >= average") {
    val rows = operators.Ingest.q192.run(spark, sfDir).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getLong(3) == 0, s"orphans on coherent fixture: $r")
      assert(r.getLong(2) > 0 && r.getLong(1) >= r.getLong(2))
      // max fan-out can't be below the mean fan-out over represented keys
      assert(r.getLong(5) * r.getLong(2) >= r.getLong(1), s"fan-out math: $r")
    }
  }
}
