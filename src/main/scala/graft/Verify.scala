package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (fast local iteration)
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The 7-vs-32-cpu determinism proof runs TWO Verify JVMs and
    // relies on each building its OWN artifacts (Memo's per-JVM temp
    // default) — a shared SPARK_GRAFT_ARTIFACT_DIR would let run A
    // serve run B's tables and the proof would only prove parquet
    // round-tripping. Sharing is legitimate for the cross-run reuse
    // demo, so this is a loud notice, not an abort.
    if (sys.env.contains("SPARK_GRAFT_ARTIFACT_DIR"))
      System.err.println("[verify] NOTE: SPARK_GRAFT_ARTIFACT_DIR is set — " +
        "artifacts are shared across runs. UNSET it for the 7-vs-32 " +
        "determinism proof (each side must build independently).")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      // an earlier run's output must not stand in for a query that fails now
      val out = Paths.get(outDir, name)
      if (Files.exists(out)) org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
      try { fn(spark, sfDir).coalesce(1).write.parquet(out.toString); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
      finally spark.catalog.clearCache() // queries cache() internals; don't accumulate
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    spark.stop()
  }
}
