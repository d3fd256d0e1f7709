package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, FormattedMode, SimpleMode}

/** Writes the physical plans of registered queries — the ".explain and
  * iterate" evidence trail. Plan review is part of the build loop:
  * pushdown reaching the scan, broadcasts where expected, no stray
  * exchanges, codegen spans wide. Two modes:
  *
  *  - `simple`: the SimpleMode plan of every registered query (or of a
  *    comma-separated subset) in one markdown file, PLANS.md by default;
  *  - `formatted`: the FORMATTED plan (operator details: pushed filters,
  *    ReadSchema, join build sides, partitioning) of the named queries,
  *    one file per query, `<outDir>/<query>_<tag>.txt` — the plan
  *    evidence for the queries an optimization round touches
  *    (`plans/r16/`).
  *
  * Usage:
  * {{{
  *   runMain graft.PlanDump simple <sfDir> [out.md] [q1,q2,...]
  *   runMain graft.PlanDump formatted <sfDir> <outDir> <tag> <q1,q2,...>
  * }}}
  */
object PlanDump {
  private val Usage =
    "usage: PlanDump simple <sfDir> [out.md] [q1,q2,...]\n" +
      "       PlanDump formatted <sfDir> <outDir> <tag> <q1,q2,...>"

  def main(args: Array[String]): Unit = args.toList match {
    case "simple" :: sfDir :: rest if rest.length <= 2 =>
      simple(sfDir, rest.headOption.getOrElse("PLANS.md"),
        rest.lift(1).map(_.split(',').toSet))
    case "formatted" :: sfDir :: outDir :: tag :: names :: Nil =>
      formatted(sfDir, outDir, tag, names.split(',').toSet)
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def simple(sfDir: String, out: String, only: Option[Set[String]]): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of every registered query\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. Reviewed for: filter/\n")
    sb.append("projection pushdown at the scan, broadcast placement, shuffle\n")
    sb.append("count, codegen coverage.\n")
    eachPlan(sfDir, only, SimpleMode) {
      case (q, Right(plan)) =>
        sb.append(s"\n## ${q.name}\n\n${q.doc}\n\n```\n$plan```\n")
      case (q, Left(e)) =>
        sb.append(s"\n## ${q.name}\n\nPLAN FAILED: ${e.getMessage}\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out (${SparkEntry.registry.size} queries)")
  }

  private def formatted(sfDir: String, outDir: String, tag: String,
      names: Set[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    eachPlan(sfDir, Some(names), FormattedMode) {
      case (q, Right(plan)) =>
        Files.writeString(Paths.get(outDir, s"${q.name}_$tag.txt"), plan)
        println(s"[plandump] wrote ${q.name}_$tag.txt")
      case (q, Left(e)) =>
        println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
    }
  }

  /** Plans each selected query, in name order, on a 4-core graft session. */
  private def eachPlan(sfDir: String, only: Option[Set[String]], mode: ExplainMode)(
      emit: (GQuery, Either[Throwable, String]) => Unit): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.registry.sortBy(_.name)
      .filter(q => only.forall(_.contains(q.name))).foreach { q =>
      val plan =
        try Right(q.run(spark, sfDir).queryExecution.explainString(mode))
        catch { case e: Throwable => Left(e) }
        // queries cache() internals; a registered cache would make later
        // plans show InMemoryTableScan instead of the real scans
        finally spark.catalog.clearCache()
      emit(q, plan)
    }
    spark.stop()
  }
}
