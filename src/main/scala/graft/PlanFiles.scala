package graft

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for selected queries to one
  * file per query — the optimization round's plan evidence trail
  * (`plans/r16/<query>_<tag>.txt`). Unlike PLANS.md (SimpleMode, all
  * queries), these are the FORMATTED plans (operator details: pushed
  * filters, ReadSchema, join build sides, partitioning) for the
  * queries a round actually touches.
  *
  * Usage: runMain graft.PlanFiles <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(',').toSet
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.registry.filter(q => names.contains(q.name)).foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${q.name}_$tag.txt"), txt)
        println(s"[planfiles] wrote ${q.name}_$tag.txt")
      } catch {
        case e: Throwable =>
          println(s"[planfiles] ${q.name} FAILED: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
