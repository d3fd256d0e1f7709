package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every registered query to a
  * markdown artifact — the ".explain and iterate" evidence trail
  * (PLANS.md). Plan review is part of the build loop: pushdown reaching
  * the scan, broadcasts where expected, no stray exchanges, codegen
  * spans wide.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    // optional third arg: comma-separated query names (fast iteration on
    // one plan — same convention as Bench's filter)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of every registered query\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. Reviewed for: filter/\n")
    sb.append("projection pushdown at the scan, broadcast placement, shuffle\n")
    sb.append("count, codegen coverage.\n")
    SparkEntry.registry.sortBy(_.name)
      .filter(q => only.forall(_.contains(q.name))).foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        sb.append(s"\n## ${q.name}\n\n${q.doc}\n\n```\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
        sb.append("```\n")
      } catch {
        case e: Throwable =>
          sb.append(s"\n## ${q.name}\n\nPLAN FAILED: ${e.getMessage}\n")
      } finally {
        // queries cache() internals; a registered cache would make later
        // plans show InMemoryTableScan instead of the real scans
        spark.catalog.clearCache()
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out (${SparkEntry.registry.size} queries)")
    spark.stop()
  }
}
