package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  // A host asks for queries before it builds its session (see
  // GraftSession.installJvmDefaults).
  GraftSession.installJvmDefaults()

  /** Every implemented engine query, module by module (SURVEY.md §2). */
  def registry: Seq[GQuery] =
    operators.Relational.all ++ operators.SetOps.all ++
      operators.Scalars.all ++ operators.Olap.all ++ ml.Recommender.all ++
      operators.TextOps.all ++ operators.Dedup.all ++
      operators.Similarity.all ++ operators.Multimodal.all ++
      operators.Temporal.all ++ operators.Advanced.all ++
      operators.Analytics.all ++ operators.Ingest.all ++
      operators.Pipeline.all ++ operators.Graph.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q01.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
