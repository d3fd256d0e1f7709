package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format matrix: the engine reads parquet fixtures natively;
  * this proves the same relations survive CSV and JSON round-trips with
  * explicit schemas (the formats a 100 TB ingest actually meets), and
  * that schema'd reads reject nothing silently.
  */
class SourcesSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("customer table round-trips through csv, json, and parquet unchanged") {
    import graft.sources.Tables
    val base = Tables.customer(spark, sfDir)
      .orderBy(col("c_custkey"))
    val want = base.collect().map(_.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("roundtrip").toString

    base.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    base.write.mode("overwrite").json(s"$tmp/json")
    base.write.mode("overwrite").parquet(s"$tmp/parquet")

    val viaCsv = spark.read.schema(base.schema).option("header", "true")
      .csv(s"$tmp/csv").orderBy(col("c_custkey")).collect().map(_.toSeq).toSeq
    val viaJson = spark.read.schema(base.schema)
      .json(s"$tmp/json").orderBy(col("c_custkey")).collect().map(_.toSeq).toSeq
    val viaParquet = spark.read
      .parquet(s"$tmp/parquet").orderBy(col("c_custkey")).collect().map(_.toSeq).toSeq

    assert(viaCsv === want, "csv round-trip")
    assert(viaJson === want, "json round-trip")
    assert(viaParquet === want, "parquet round-trip")
  }

  test("schema'd CSV read surfaces malformed rows instead of silently dropping") {
    val tmp = java.nio.file.Files.createTempDirectory("badcsv")
    java.nio.file.Files.writeString(tmp.resolve("bad.csv"),
      "1\t2\t3\t100\nnot_a_number\t2\t3\t100\n")
    val df = graft.sources.Tables.ratingsTsv(spark, tmp.toString)
    // PERMISSIVE (default): the malformed cell becomes null, the row count
    // is preserved — nothing silently disappears
    val rows = df.collect()
    assert(rows.length === 2)
    assert(rows.count(_.isNullAt(0)) === 1)
  }

  test("a table's parquet schema is inferred once per file version") {
    import graft.sources.Tables
    val tmp = java.nio.file.Files.createTempDirectory("schemas").toString
    spark.range(5).toDF("a").write.parquet(s"$tmp/t.parquet")
    // jobs started by `body`, read once a later marker job is visible
    // (the status store takes job events in order)
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g); try body finally sc.clearJobGroup()
    }
    def jobs(group: String)(body: => Unit): Int = {
      inGroup(group)(body)
      inGroup(s"$group-end")(spark.range(1).count())
      val deadline = System.nanoTime() + 10000000000L
      while (sc.statusTracker.getJobIdsForGroup(s"$group-end").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val inferred = spark.read.parquet(s"$tmp/t.parquet").schema
    assert(jobs("infer")(Tables(spark, tmp, "t")) >= 1)
    assert(jobs("reuse")(assert(Tables(spark, tmp, "t").schema === inferred)) === 0)
    spark.range(3).selectExpr("id AS b", "id * 2 AS c").write.mode("overwrite")
      .parquet(s"$tmp/t.parquet")
    val df = Tables(spark, tmp, "t")
    assert(df.columns.toSeq === Seq("b", "c"))
    assert(df.count() === 3)
  }
}
