package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** A named engine query: the unit of the driver's correctness gate.
  *
  * `run` builds the DataFrame against the parquet tables in `sfDir`;
  * `oracle` is the equivalent ANSI SQL the driver executes in DuckDB over
  * the same tables (None => driver falls back to a rows-only check).
  *
  * Determinism contract (SURVEY.md §5): every query ends in an explicit
  * orderBy over a unique key, money aggregates go through exact DECIMAL
  * sums before any double math, and doubles in the output are rounded.
  */
final case class GQuery(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GQuery {
  def oracled(name: String, doc: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): GQuery =
    GQuery(name, doc, fn, Some(sql))

  def rowsOnly(name: String, doc: String)(
      fn: (SparkSession, String) => DataFrame): GQuery =
    GQuery(name, doc, fn, None)

  /** A query whose Spark side is its oracle text: `sql` runs over the
    * named fixture `tables` through [[sqlOver]], so both engines plan the
    * same SQL.
    */
  def sqlSurface(name: String, doc: String, sql: String,
      tables: String*): GQuery =
    oracled(name, doc, sql)((s, dir) => sqlOver(s, dir, tables: _*)(sql))

  /** Runs SQL `text` over the named fixture tables of `dir`, registered as
    * temp views on `s.newSession()`. The clone shares the SparkContext,
    * the cache and the static conf but has its own temp-view catalog, so
    * no view outlives the call in the caller's session or rebinds a later
    * `s.sql` text there to this call's `dir`.
    */
  private[graft] def sqlOver(s: SparkSession, dir: String, tables: String*)(
      text: String): DataFrame = {
    val sp = s.newSession()
    tables.foreach(t => Tables.named(sp, dir, t).createOrReplaceTempView(t))
    sp.sql(text)
  }
}
