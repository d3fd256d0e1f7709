package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.GQuery
import graft.GQuery.oracled
import graft.sources.Tables

/** Malformed-input ingest accounting (SURVEY.md §1.3): the reference
  * throws on any bad line (`SVDMovieLensSparkJava.java` parses with
  * unchecked `Integer.parseInt`), killing the whole job at the first
  * corrupt record — unacceptable for a 100 TB ingest where some bad
  * records are a statistical certainty. The engine's ingest path reads
  * PERMISSIVE with a corrupt-record column and ACCOUNTS for bad rows
  * instead of dying; FAILFAST remains available when a pipeline wants
  * the reference's semantics (IngestSpec proves both).
  */
object Ingest {

  /** Ratings-TSV schema + the corrupt-record capture column. user_id is
    * LongType because the fixture writes raw doc_id there: parseability
    * must not depend on corpus size (an Int column would silently flag
    * doc_id > Int.MaxValue as corrupt while the oracle's %7/%11 rule
    * still counts it good — a latent hash mismatch at scale).
    */
  private val dirtySchema = StructType(Seq(
    StructField("user_id", LongType, nullable = true),
    StructField("item_id", IntegerType, nullable = true),
    StructField("rating", IntegerType, nullable = true),
    StructField("ts", LongType, nullable = true),
    StructField("_corrupt_record", StringType, nullable = true)))

  /** Writes the deterministic dirty TSV derived from `documents` (one
    * line per doc; corruption is a pure function of doc_id, so the
    * DuckDB oracle can compute the expected accounting from the clean
    * table): doc_id ≡ 3 (mod 7) gets an unparseable rating, doc_id ≡ 5
    * (mod 11) an unparseable timestamp. Written distributed (no
    * collect) under java.io.tmpdir, keyed by the data dir.
    */
  private val dirtyPathCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  private[graft] def writeDirtyTsv(s: SparkSession, dir: String): String =
    // memoized per (SparkContext, data dir): repeat q92 invocations reuse
    // one written fixture instead of accumulating overwrite targets
    graft.Memo.sync(dirtyPathCache, graft.Memo.key(s, dir))( {
      // path is unique per (process, SparkContext): two concurrent JVMs —
      // or a restarted context in one JVM — must never race on the same
      // overwrite target while a lazy read of it is still materializing
      val out = sys.props("java.io.tmpdir") +
        s"/graft_q92_dirty_${ProcessHandle.current().pid()}_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      Tables.documents(s, dir).select(
        concat_ws("\t",
          col("doc_id"),
          col("doc_id") % 100,
          when(col("doc_id") % 7 === 3, lit("bad"))
            .otherwise((col("doc_id") % 5 + 1).cast("string")),
          when(col("doc_id") % 11 === 5, lit("9.9.9"))
            .otherwise((lit(1700000000L) + col("doc_id")).cast("string"))).as("value"))
        .write.mode("overwrite").text(out)
      // the fixture is scratch data: reclaim it when the JVM exits
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(out))))
      out
    })

  private val parsedCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** PERMISSIVE read of a ratings TSV with corrupt-record accounting —
    * the resilient twin of [[graft.sources.Tables.ratingsTsv]].
    * Memoized per (SparkContext, path) so repeat invocations share ONE
    * cached parse instead of stacking cached copies.
    */
  private[graft] def readDirtyTsv(s: SparkSession, path: String): DataFrame =
    graft.Memo.sync(parsedCache, graft.Memo.key(s, path))(
      s.read.schema(dirtySchema)
        .option("sep", "\t")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path))
      // LOAD-BEARING cache: corrupt-record accounting must parse EVERY
      // schema column. Without materialization, Catalyst prunes columns
      // the query doesn't reference (e.g. ts) out of the CSV parse, and
      // a row whose corruption lives only in a pruned column is silently
      // counted as good (observed: 71 of 110 bad rows flagged). The
      // cache pins one parsed pass of the full schema. It is applied on
      // every call, not once inside the memo: the Verify/Bench harnesses
      // clear the catalog cache after each query, and a memoized frame
      // whose cache was cleared read 71 again on its next run.
      .cache()

  /** q92 — dirty-ingest accounting: write the deterministic dirty TSV,
    * read it PERMISSIVE, and report total/good/bad line counts plus a
    * checksum aggregate over the successfully-parsed rows. The oracle
    * recomputes the expected accounting from `documents` via the same
    * doc_id corruption rule — so a parser that silently dropped or
    * mis-flagged rows would hash-mismatch.
    */
  val q92 = oracled(
    "q92_dirty_ingest",
    "PERMISSIVE TSV ingest with corrupt-record accounting (reference would throw)",
    """WITH d AS (
         SELECT doc_id,
           (doc_id % 7 = 3) OR (doc_id % 11 = 5) AS bad
         FROM documents)
       SELECT COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN NOT bad THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
         CAST(SUM(CASE WHEN NOT bad THEN doc_id % 5 + 1 END) AS BIGINT) AS sum_good_rating
       FROM d""") { (s, dir) =>
    val parsed = readDirtyTsv(s, writeDirtyTsv(s, dir))
    parsed.agg(
      count(lit(1)).as("n_lines"),
      count_if(col("_corrupt_record").isNull).as("n_good"),
      count_if(col("_corrupt_record").isNotNull).as("n_bad"),
      sum(when(col("_corrupt_record").isNull, col("rating"))).as("sum_good_rating"))
  }

  /** q105 — malformed-JSON accounting: the semi-structured twin of q92.
    * A deterministic corruption (truncate the closing brace on every
    * event_id ≡ 4 mod 9) stands in for the malformed payloads any 100 TB
    * event feed carries; `try_parse_json` (Spark 4 VARIANT) nulls on the
    * bad rows instead of failing the ANSI-mode job, and the query
    * accounts for good/bad rows plus a checksum over the successfully
    * extracted field. Scan-local expression work — no shuffle before the
    * final 5-row aggregate.
    */
  val q105 = oracled(
    "q105_json_dirty_accounting",
    "try_parse_json accounting of deterministically corrupted JSON payloads",
    """WITH c AS (
         SELECT event_type,
           CASE WHEN event_id % 9 = 4 THEN substring(props, 1, length(props)-1)
                ELSE props END AS p
         FROM events)
       SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN NOT json_valid(p) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
         CAST(SUM(CASE WHEN json_valid(p) THEN CAST(p->>'k' AS BIGINT) END) AS BIGINT) AS sum_k
       FROM c GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    val p = when(col("event_id") % 9 === 4,
      col("props").substr(lit(1), length(col("props")) - 1))
      .otherwise(col("props"))
    Tables.events(s, dir)
      .select(col("event_type"), try_parse_json(p).as("v"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("v").isNull).as("n_bad"),
        sum(variant_get(col("v"), "$.k", "bigint")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------------------- JSONL source

  private val jsonlPathCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Writes the documents corpus as JSON-lines once per (context, dir) —
    * the interchange format every crawl/annotation pipeline emits —
    * distributed write, shutdown-hook cleanup (same contract as the
    * dirty-TSV fixture above).
    */
  private[graft] def writeJsonl(s: SparkSession, dir: String): String =
    graft.Memo.sync(jsonlPathCache, graft.Memo.key(s, dir))( {
      val out = sys.props("java.io.tmpdir") +
        s"/graft_q106_jsonl_${ProcessHandle.current().pid()}_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      Tables.documents(s, dir).write.mode("overwrite").json(out)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(out))))
      out
    })

  /** q106 — JSON-lines source round-trip: write the corpus as JSONL,
    * read it back with an explicit schema (schema-on-read, no inference
    * pass — at 100 TB an inference scan doubles the read), and prove the
    * round trip is lossless with content aggregates the oracle computes
    * from the parquet original. Exercises the json source/sink pair the
    * relational inventory otherwise wouldn't touch.
    */
  val q106 = oracled(
    "q106_jsonl_roundtrip",
    "JSONL write → schema'd read-back, content-aggregate lossless proof",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars
       FROM documents""") { (s, dir) =>
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).json(writeJsonl(s, dir))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("doc_id")).as("sum_id"),
        sum(length(col("text"))).as("sum_text_chars"))
  }

  private val orcPathCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** q123 — ORC source round-trip: the columnar sibling of q106 (same
    * lossless-aggregate proof, different container). ORC is the other
    * splittable columnar format a lake ingests besides parquet; the
    * read-back goes through Spark's vectorized ORC reader.
    */
  val q123 = oracled(
    "q123_orc_roundtrip",
    "ORC write → read-back, content-aggregate lossless proof",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(doc_id * 31 % 99991) AS BIGINT) AS checksum
       FROM documents""") { (s, dir) =>
    val out = graft.Memo.sync(orcPathCache, graft.Memo.key(s, dir))( {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_q123_orc_${ProcessHandle.current().pid()}_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      Tables.documents(s, dir).write.mode("overwrite").orc(p)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(p))))
      p
    })
    s.read.orc(out)
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id") * 31 % 99991).as("checksum"))
  }

  /** q125 — `try_cast` conversion battery: deterministic dirty strings
    * (bad ints, impossible dates, invalid clock times — pure functions
    * of doc_id) converted with error-safe casts under default ANSI
    * mode, accounting good/bad per conversion. The row-level
    * counterpart of q92/q105: ingest never throws, every failure is
    * counted, and the checksum over surviving values proves nulls
    * landed exactly where corruption was planted.
    */
  val q125 = oracled(
    "q125_try_cast_battery",
    "error-safe casts (int/date/timestamp) over deterministically dirty strings",
    """WITH raw AS (
         SELECT doc_id,
           CASE WHEN doc_id % 4 = 1 THEN 'x' || CAST(doc_id AS VARCHAR)
                ELSE CAST(doc_id AS VARCHAR) END AS int_s,
           CASE WHEN doc_id % 5 = 2 THEN '2024-13-40'
                ELSE '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR),2,'0')
                  || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR),2,'0') END AS date_s,
           '2024-01-01 ' ||
             CASE WHEN doc_id % 7 = 3 THEN '12:99:00'
                  ELSE lpad(CAST(doc_id % 24 AS VARCHAR),2,'0') || ':30:00' END AS ts_s
         FROM documents)
       SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN TRY_CAST(int_s AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_int,
         CAST(SUM(CASE WHEN TRY_CAST(date_s AS DATE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_date,
         CAST(SUM(CASE WHEN TRY_CAST(ts_s AS TIMESTAMP) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_ts,
         CAST(SUM(TRY_CAST(int_s AS BIGINT)) AS BIGINT) AS sum_ok_int
       FROM raw""") { (s, dir) =>
    val intS = when(col("doc_id") % 4 === 1,
      concat(lit("x"), col("doc_id").cast("string"))).otherwise(col("doc_id").cast("string"))
    val dateS = when(col("doc_id") % 5 === 2, lit("2024-13-40"))
      .otherwise(concat(lit("2024-"), lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        lit("-"), lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")))
    val tsS = concat(lit("2024-01-01 "),
      when(col("doc_id") % 7 === 3, lit("12:99:00"))
        .otherwise(concat(lpad((col("doc_id") % 24).cast("string"), 2, "0"), lit(":30:00"))))
    Tables.documents(s, dir)
      .select(intS.try_cast("long").as("i"), dateS.try_cast("date").as("d"),
        tsS.try_cast("timestamp").as("t"))
      .agg(count(lit(1)).as("n"),
        count_if(col("i").isNull).as("bad_int"),
        count_if(col("d").isNull).as("bad_date"),
        count_if(col("t").isNull).as("bad_ts"),
        sum(col("i")).as("sum_ok_int"))
  }

  /** q139 — the `graft-docs` DataSource V2 connector through the oracle
    * gate: a doc_id range predicate is pushed INTO the source (clamping
    * the generated interval at plan time — SourceV2Spec proves the
    * pruned partitions and columns), and the per-lang rollup runs over
    * rows the connector generated in parallel slices. The DuckDB oracle
    * regenerates the identical corpus from `range()` arithmetic, so a
    * hash match certifies the connector's row semantics end to end —
    * generation, pushdown clamp, pruning, and aggregation. Note the
    * fixed `rows`/`slices` make this independent of sfDir by design:
    * the connector is the table.
    */
  val q139 = oracled(
    "q139_dsv2_source",
    "custom DSv2 generator source: pushed range clamp + per-lang rollup",
    """WITH docs AS (
         SELECT r AS doc_id,
           CASE CAST(r % 10 AS INTEGER)
             WHEN 4 THEN 'de' WHEN 5 THEN 'de'
             WHEN 6 THEN 'fr' WHEN 7 THEN 'fr'
             WHEN 8 THEN 'es' WHEN 9 THEN 'zh'
             ELSE 'en' END AS lang,
           50 + (r * 37) % 200 AS n_chars
         FROM range(10000, 60000) t(r))
       SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(MIN(doc_id) AS BIGINT) AS min_doc,
         CAST(MAX(doc_id) AS BIGINT) AS max_doc
       FROM docs GROUP BY lang ORDER BY lang""") { (s, dir) =>
    s.read.format("graft-docs")
      .option("rows", 100000L).option("slices", 32)
      .load()
      .filter(col("doc_id") >= 10000 && col("doc_id") < 60000)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  }

  /** q175 — one-pass column profiling (the ANALYZE-style QC report a
    * pipeline runs before trusting a new drop): for every orders column,
    * null count, exact distinct count, and min/max in a type-stable
    * string representation — integers verbatim, doubles as floor-cents
    * (floor BEFORE the integer cast: `v*100` is the same IEEE double on
    * both engines and floor of an integral double is exact — the q169
    * rule; no decimal cast anywhere near a tie boundary), timestamps as
    * epoch-day numbers (fixture dates are midnight NTZ; `unix_*` rejects
    * NTZ in Spark 4). Spark side: one branch per column, each a
    * COLUMN-PRUNED scan → group-by-value (map-side partial dedup: the
    * shuffle carries each task's distinct values, not rows) → a tiny
    * re-aggregate deriving nulls/distincts/min/max from the value
    * histogram — unioned into the long-form report. On a columnar
    * store, 6 single-column scans cost the bytes of ONE full-width
    * scan, and beat the multi-distinct Expand plan (7× row multiply of
    * full-width null-padded rows through a single aggregate — measured
    * 3.0 s vs 0.6 s here). At 100 TB you'd swap the exact distincts for
    * approx_count_distinct (q19's HLL path) and fuse the branches.
    */
  val q175 = oracled(
    "q175_column_profile",
    "one-pass per-column profile of orders (nulls, exact distincts, typed min/max reprs)",
    {
      def branch(c: String, minR: String, maxR: String) =
        s"""SELECT '$c' AS col_name,
           CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           CAST($minR AS VARCHAR) AS min_repr,
           CAST($maxR AS VARCHAR) AS max_repr FROM orders"""
      val branches = Seq(
        branch("o_orderkey", "MIN(o_orderkey)", "MAX(o_orderkey)"),
        branch("o_custkey", "MIN(o_custkey)", "MAX(o_custkey)"),
        branch("o_orderstatus", "MIN(o_orderstatus)", "MAX(o_orderstatus)"),
        branch("o_totalprice",
          "CAST(FLOOR(MIN(o_totalprice) * 100) AS BIGINT)",
          "CAST(FLOOR(MAX(o_totalprice) * 100) AS BIGINT)"),
        branch("o_orderdate",
          "MIN(o_orderdate)::DATE - DATE '1970-01-01'",
          "MAX(o_orderdate)::DATE - DATE '1970-01-01'"),
        branch("o_orderpriority", "MIN(o_orderpriority)", "MAX(o_orderpriority)"))
      branches.mkString("", " UNION ALL ", " ORDER BY col_name")
    }) { (s, dir) =>
    val o = Tables.orders(s, dir)
    def dayNum(c: Column): Column =
      datediff(c.cast("date"), lit("1970-01-01")).cast("long")
    def cents(c: Column): Column = floor(c * 100).cast("long")
    // repr applies AFTER min/max on the native type, so ordering
    // semantics are the column's own
    val reprs: Seq[(String, Column => Column)] = Seq(
      ("o_orderkey", identity[Column] _),
      ("o_custkey", identity[Column] _),
      ("o_orderstatus", identity[Column] _),
      ("o_totalprice", cents _),
      ("o_orderdate", dayNum _),
      ("o_orderpriority", identity[Column] _))
    reprs.map { case (c, repr) =>
      o.select(col(c).as("v")).groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(when(col("v").isNull, col("cnt")).otherwise(0L)), lit(0L))
            .as("n_nulls"),
          count(col("v")).as("n_distinct"),
          repr(min(col("v"))).cast("string").as("min_repr"),
          repr(max(col("v"))).cast("string").as("max_repr"))
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_repr"), col("max_repr"))
    }.reduce(_ unionByName _)
      .orderBy(col("col_name"))
  }

  /** One FK edge's audit summary: child groupBy(key) → FULL OUTER join
    * with the parent's distinct keys → ONE aggregate. Everything the
    * audit reports falls out of that single FOJ frame: orphan child
    * rows (parent side null), childless parents (child side null),
    * fan-out extremes. Partial-aggregated on both inputs; the join is
    * keys-sized, never rows-sized.
    */
  private[graft] def fkAudit(child: DataFrame, ckey: String,
      parent: DataFrame, pkey: String, label: String): DataFrame = {
    val ca = child.select(col(ckey).as("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"))
    val pk = parent.select(col(pkey).as("p")).distinct()
    ca.join(pk, col("k") === col("p"), "full")
      .agg(
        coalesce(sum(col("cnt")), lit(0L)).as("child_rows"),
        count(col("cnt")).as("child_keys"),
        coalesce(sum(when(col("p").isNull, col("cnt"))), lit(0L)).as("orphan_rows"),
        count(when(col("cnt").isNull, 1)).as("childless_parents"),
        coalesce(max(col("cnt")), lit(0L)).as("max_fanout"))
      .select(lit(label).as("fk_edge"), col("child_rows"), col("child_keys"),
        col("orphan_rows"), col("childless_parents"), col("max_fanout"))
  }

  /** q192 — referential-integrity audit across the schema's six FK
    * edges: the pre-join health check a pipeline runs before trusting
    * any star-join — orphaned children (silent row loss under inner
    * joins), childless parents (dead dimension entries), and fan-out
    * extremes (the skew number that decides salting). q137 audits
    * columns WITHIN a table; this audits the edges BETWEEN them.
    * Each edge is one partial-aggregated FOJ on the key ([[fkAudit]]);
    * the six summaries union into one 6-row report — at 100 TB each
    * edge's cost is its child table's single groupBy scan, and the six
    * branches share nothing, so a scheduler runs them concurrently.
    */
  val q192 = oracled(
    "q192_fk_audit",
    "six-edge FK health report: orphans, childless parents, fan-out extremes",
    {
      def edge(childT: String, ck: String, parentT: String, pk: String): String =
        s"""SELECT '$childT.$ck->$parentT' AS fk_edge,
           CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS child_rows,
           CAST(COUNT(cnt) AS BIGINT) AS child_keys,
           CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN cnt END), 0) AS BIGINT) AS orphan_rows,
           CAST(COUNT(CASE WHEN cnt IS NULL THEN 1 END) AS BIGINT) AS childless_parents,
           CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS max_fanout
           FROM (SELECT $ck AS k, COUNT(*) AS cnt FROM $childT GROUP BY 1) c
           FULL JOIN (SELECT DISTINCT $pk AS p FROM $parentT) pp ON c.k = pp.p"""
      Seq(
        edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem", "l_partkey", "part", "p_partkey"),
        edge("orders", "o_custkey", "customer", "c_custkey"),
        edge("customer", "c_nationkey", "nation", "n_nationkey"),
        edge("supplier", "s_nationkey", "nation", "n_nationkey"),
        edge("nation", "n_regionkey", "region", "r_regionkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY fk_edge")
    }) { (s, dir) =>
    Seq(
      fkAudit(Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey", "lineitem.l_orderkey->orders"),
      fkAudit(Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey", "lineitem.l_partkey->part"),
      fkAudit(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey", "orders.o_custkey->customer"),
      fkAudit(Tables.customer(s, dir), "c_nationkey",
        Tables.nation(s, dir), "n_nationkey", "customer.c_nationkey->nation"),
      fkAudit(Tables.supplier(s, dir), "s_nationkey",
        Tables.nation(s, dir), "n_nationkey", "supplier.s_nationkey->nation"),
      fkAudit(Tables.nation(s, dir), "n_regionkey",
        Tables.region(s, dir), "r_regionkey", "nation.n_regionkey->region"))
      .reduce(_ unionByName _)
      .orderBy(col("fk_edge"))
  }

  private val evoPathCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Two parquet "generations" of the documents table in one directory:
    * gen1 (doc_id ≡ 0 mod 3) with the LEGACY 3-column schema, gen2 (the
    * rest) with the full 5-column schema — the shape every long-lived
    * 100 TB lake actually has after a schema migration. Memoized per
    * (SparkContext, dir) like [[writeDirtyTsv]].
    */
  private[graft] def writeEvolvedParquet(s: SparkSession, dir: String): String =
    graft.Memo.sync(evoPathCache, graft.Memo.key(s, dir))( {
      val out = sys.props("java.io.tmpdir") +
        s"/graft_q205_evo_${ProcessHandle.current().pid()}_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(out + "/gen=1")
      docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").parquet(out + "/gen=2")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(out))))
      out
    })

  /** q205 — schema-evolution read: `mergeSchema` unions the per-file
    * schemas, legacy files surface the post-migration columns as NULL,
    * and the query BACKFILLS them (`coalesce(n_chars, length(text))`,
    * `coalesce(source, 'legacy')`) — the read-side migration pattern
    * that avoids rewriting petabytes of old files. The oracle never
    * sees the staged directory: it recomputes the same answer from the
    * documents view with the generation rule inlined (`doc_id % 3`),
    * so the gate proves the merged read dropped nothing, nulled exactly
    * the legacy rows, and the backfill is exact-integer. Scan shape:
    * schema merge is footer-only planning work; the data pass is one
    * partial-aggregated groupBy.
    */
  val q205 = oracled(
    "q205_schema_evolution",
    "mergeSchema evolution read with exact-integer legacy backfill accounting",
    """SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_legacy,
         CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN LENGTH(text)
                       ELSE n_chars END) AS BIGINT) AS chars_backfilled,
         CAST(SUM(CASE WHEN doc_id % 3 <> 0 AND source = 'web' THEN 1
                       ELSE 0 END) AS BIGINT) AS n_web
       FROM documents
       GROUP BY lang ORDER BY lang""") { (s, dir) =>
    val merged = s.read.option("mergeSchema", "true")
      .parquet(writeEvolvedParquet(s, dir))
    merged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_chars").isNull, 1)).as("n_legacy"),
        sum(coalesce(col("n_chars"), length(col("text")).cast("long")))
          .cast("long").as("chars_backfilled"),
        count(when(coalesce(col("source"), lit("legacy")) === "web", 1))
          .as("n_web"))
      .orderBy(col("lang"))
  }

  private val evoEventsPathCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Two parquet generations of the EVENTS table for the streaming
    * schema-evolution join (q213 + StreamEvolutionSpec): gen1
    * (event_id ≡ 0 mod 3) with the legacy 4-column schema (no `value`,
    * no `props`), gen2 the full 6 columns. Plain `gen1`/`gen2` dir
    * names (not `gen=N`) so neither the batch mergeSchema read nor the
    * declared-schema stream infers a partition column. Memoized per
    * (SparkContext, dir) like [[writeEvolvedParquet]].
    */
  private[graft] def writeEvolvedEvents(s: SparkSession, dir: String): String =
    graft.Memo.sync(evoEventsPathCache, graft.Memo.key(s, dir))( {
      val out = sys.props("java.io.tmpdir") +
        s"/graft_q213_evoev_${ProcessHandle.current().pid()}_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      val ev = Tables.events(s, dir)
      ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(out + "/gen1")
      ev.filter(col("event_id") % 3 =!= 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .write.mode("overwrite").parquet(out + "/gen2")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(out))))
      out
    })

  /** q213 — the q205 schema-evolution shape as a WATERMARK-BOUNDED
    * stream-stream interval join (VERDICT r8 #7c): (purchase, error)
    * pairs for the same user within 30 minutes, over the two-generation
    * events lake where legacy (gen1) purchases lack the `value` column
    * entirely and backfill to 0 cents. The pairing logic lives in
    * [[graft.streaming.EvolutionStream.purchaseErrorPairs]] and is
    * shared VERBATIM by this batch twin and the streaming spec (which
    * starts the stream on gen1 alone and drops gen2 in mid-stream —
    * the schema evolving live under a declared merged schema). The
    * batch read merges file schemas; the oracle recomputes from the
    * events view with the generation rule inlined. Per purchase-hour:
    * pair count, distinct matched purchases, exact pair cents.
    */
  val q213 = oracled(
    "q213_evolution_stream_join",
    "watermark-bounded purchase↔error interval join over the two-generation evolving events lake",
    """WITH ev AS (
         SELECT event_id, ts, user_id, event_type,
           CASE WHEN event_id % 3 = 0 THEN 0
                ELSE COALESCE(CAST(FLOOR(value * 100) AS BIGINT), 0)
           END AS cents
         FROM events),
       p AS (SELECT event_id AS pid, ts AS pts, user_id, cents FROM ev
             WHERE event_type = 'purchase'),
       e AS (SELECT event_id AS eid, ts AS ets, user_id FROM ev
             WHERE event_type = 'error'),
       j AS (SELECT p.pid, p.pts, p.cents
             FROM p JOIN e ON e.user_id = p.user_id
               AND e.ets >= p.pts AND e.ets < p.pts + INTERVAL 30 MINUTE)
       SELECT date_trunc('hour', pts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
         CAST(SUM(cents) AS BIGINT) AS pair_cents
       FROM j GROUP BY 1 ORDER BY hour""") { (s, dir) =>
    val staged = writeEvolvedEvents(s, dir)
    val merged = s.read.option("mergeSchema", "true")
      .parquet(staged + "/gen1", staged + "/gen2")
    graft.streaming.EvolutionStream.purchaseErrorPairs(merged)
      .groupBy(date_trunc("hour", col("pts")).as("hour"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("cents")).as("pair_cents"))
      .orderBy(col("hour"))
  }

  /** q206 — scan-level aggregate pushdown: COUNT/MIN/MAX answered from
    * parquet FOOTER STATISTICS, no row ever decoded — the difference
    * between touching 100 TB of pages and touching kilobytes of
    * metadata for the catalog/stats queries every engine runs
    * constantly. Needs the DSv2 parquet path (`useV1SourceList=""`) +
    * `parquet.aggregatePushdown`, isolated on a cloned session (the
    * Graph AQE-clone pattern — the shared session's planner is never
    * mutated). PlanContractSpec pins `PushedAggregation` in the scan;
    * the oracle computes the same three values the slow way.
    */
  val q206 = oracled(
    "q206_scan_agg_pushdown",
    "footer-statistics COUNT/MIN/MAX: aggregate pushed into the parquet scan",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
         CAST(MAX(l_orderkey) AS BIGINT) AS max_key
       FROM lineitem""") { (s, dir) =>
    val sp = s.newSession()
    sp.conf.set("spark.sql.sources.useV1SourceList", "")
    sp.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    Tables.lineitem(sp, dir)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
  }

  /** Ship-month-partitioned physical layout of lineitem — the fact-table
    * organization every 100 TB warehouse uses (one directory per month,
    * `ship_mon=YYYY-MM/`). Rows carry the revenue pre-quantized to exact
    * integer cents so the consumer aggregate is decimal-free. A LAYOUT
    * artifact ([[graft.Memo.artifactLayout]], r16): the directory
    * partitioning IS the value, so it can't go through the plain
    * `artifact` writer — but it absolutely belongs in the cross-run
    * tier (a warehouse lays the partitioned fact down once; rebuilding
    * it per run would dwarf the pruning it exists to prove). One month
    * ≈ 1/80 of the fixture, so the per-directory write is coalesced to
    * 1 file — 32 shuffle partitions × 80 month dirs would otherwise
    * spray ~2.5 k tiny files (the r15 q214-anomaly review's hypothesis).
    */
  private[graft] def writeMonthPartitionedLineitem(
      s: SparkSession, dir: String): String =
    graft.Memo.artifactLayout(s, dir, "lineitem_by_ship_month") { out =>
      Tables.lineitem(s, dir)
        .select(
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_mon"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("cents"))
        .repartition(col("ship_mon"))
        .write.mode("overwrite").partitionBy("ship_mon").parquet(out)
    }

  /** q214 — DYNAMIC partition pruning: the month-dim side of the join
    * is only known at runtime (months whose urgent-order count exceeds
    * the all-months average — an aggregate of `orders`, not a literal),
    * so static partition pruning cannot help; Spark's PartitionPruning
    * rule instead plants a `DynamicPruningExpression` subquery on the
    * fact scan, reusing the dim's broadcast to skip every non-qualifying
    * `ship_mon=` directory before a single fact row is read. At 100 TB
    * this is THE mechanism that turns a fact×filtered-dim join from a
    * full-table scan into a read of the qualifying months only
    * (roughly half here: 32/77 at sf0.001, 48/80 at sf0.1).
    * PlanContractSpec pins `dynamicpruning` in the fact scan's
    * partition filters. The threshold compare is kept integer-exact
    * (`n_urgent · n_months > total_urgent`) so both engines agree
    * without a float division; the oracle recomputes the whole answer
    * from the unpartitioned lineitem view with the month key inlined.
    */
  val q214 = oracled(
    "q214_dynamic_partition_pruning",
    "runtime month-dim filter prunes fact partitions via DynamicPruningExpression",
    """WITH m AS (
         SELECT strftime(o_orderdate, '%Y-%m') AS mon, COUNT(*) AS n_urgent
         FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
       d AS (
         SELECT mon FROM m
         WHERE n_urgent * (SELECT COUNT(*) FROM m) > (SELECT SUM(n_urgent) FROM m))
       SELECT d.mon AS mon,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS rev_cents
       FROM lineitem JOIN d ON strftime(l_shipdate, '%Y-%m') = d.mon
       GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    val sp = s.newSession()
    sp.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    // the staged fixture has no table stats; the fallback filter ratio
    // (not stats) decides pruning benefit, and the broadcast is reused
    // either way — the 100 TB deployment keeps useStats=true
    sp.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val fact = sp.read.parquet(writeMonthPartitionedLineitem(sp, dir))
    val monthly = Tables.orders(sp, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
      .agg(count(lit(1)).as("n_urgent"))
    val totals = monthly.agg(sum(col("n_urgent")).as("total_urgent"),
      count(lit(1)).as("n_months"))
    val dim = monthly.crossJoin(broadcast(totals))
      .filter(col("n_urgent") * col("n_months") > col("total_urgent"))
      .select(col("mon"))
    fact.join(dim, fact("ship_mon") === dim("mon"))
      .groupBy(col("mon"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(col("cents")).cast("long").as("rev_cents"))
      .orderBy(col("mon"))
  }

  /** q225 — data-contract validation: the per-constraint audit a
    * production pipeline runs before publishing a dataset — primary-key
    * uniqueness, referential integrity, domain/range rules, null rules,
    * freshness — as integer metrics (violations + ppm rate), never a
    * per-row dump. Scale shape: ONE pass per table — the RI probe folds
    * into the same scan as the profile rules (left join to the parent
    * key, then a single conditional aggregate computes every constraint
    * together), so adding a tenth rule costs zero extra scans; the
    * per-constraint rows unfold from the one aggregate row with stack.
    * Range thresholds are CONTRACT parameters set tighter than the
    * fixture's actual envelope (qty ≤ 45, ship before 2001-07-01) so
    * the report exercises both zero and non-zero violation paths.
    */
  val q225 = oracled(
    "q225_data_contract",
    "one-pass-per-table constraint audit: PK/FK/domain/range/null/freshness → integer metrics",
    """WITH lj AS (SELECT l.*, o.o_orderkey AS ok
         FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
       la AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
             AS BIGINT) AS v_pk,
           CAST(COUNT(*) FILTER (WHERE ok IS NULL) AS BIGINT) AS v_fk,
           CAST(COUNT(*) FILTER (WHERE l_quantity IS NULL
             OR l_quantity < 1 OR l_quantity > 45) AS BIGINT) AS v_qty,
           CAST(COUNT(*) FILTER (WHERE l_extendedprice IS NULL
             OR l_extendedprice <= 0) AS BIGINT) AS v_price,
           CAST(COUNT(*) FILTER (WHERE l_discount IS NULL
             OR l_discount < 0 OR l_discount > 0.1) AS BIGINT) AS v_disc,
           CAST(COUNT(*) FILTER (WHERE CAST(l_shipdate AS TIMESTAMP)
             >= TIMESTAMP '2001-07-01 00:00:00') AS BIGINT) AS v_fresh
         FROM lj),
       oj AS (SELECT o.*, c.c_custkey AS ck
         FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
       oa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_pk,
           CAST(COUNT(*) FILTER (WHERE ck IS NULL) AS BIGINT) AS v_fk,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')
             OR o_orderstatus IS NULL) AS BIGINT) AS v_dom
         FROM oj),
       ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS v_pk,
           CAST(COUNT(*) FILTER (WHERE c_acctbal IS NULL) AS BIGINT)
             AS v_null
         FROM customer),
       r AS (
         SELECT 'customer_acctbal_nonnull' AS rule, n, v_null AS v
           FROM ca
         UNION ALL SELECT 'customer_pk_unique', n, v_pk FROM ca
         UNION ALL SELECT 'lineitem_discount_range', n, v_disc FROM la
         UNION ALL SELECT 'lineitem_fk_orders', n, v_fk FROM la
         UNION ALL SELECT 'lineitem_freshness', n, v_fresh FROM la
         UNION ALL SELECT 'lineitem_pk_unique', n, v_pk FROM la
         UNION ALL SELECT 'lineitem_price_positive', n, v_price FROM la
         UNION ALL SELECT 'lineitem_qty_range', n, v_qty FROM la
         UNION ALL SELECT 'orders_fk_customer', n, v_fk FROM oa
         UNION ALL SELECT 'orders_pk_unique', n, v_pk FROM oa
         UNION ALL SELECT 'orders_status_domain', n, v_dom FROM oa)
       SELECT rule, n AS n_checked, v AS n_violations,
         v * 1000000 // n AS viol_ppm
       FROM r ORDER BY rule""") { (s, dir) =>
    def ppmRows(agg: DataFrame, names: Seq[(String, String)]): DataFrame = {
      val stack = names.map { case (c, v) => s"'$c', $v" }.mkString(", ")
      agg.select(expr(
        s"stack(${names.size}, $stack) AS (rule, n_violations)"),
        col("n").as("n_checked"))
    }
    val la = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey").as("ok")),
        col("ok") === col("l_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("l_orderkey"),
          col("l_linenumber"))).as("v_pk"),
        sum(when(col("ok").isNull, 1L).otherwise(0L)).as("v_fk"),
        sum(when(col("l_quantity").isNull || col("l_quantity") < 1 ||
          col("l_quantity") > 45, 1L).otherwise(0L)).as("v_qty"),
        sum(when(col("l_extendedprice").isNull ||
          col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("v_price"),
        sum(when(col("l_discount").isNull || col("l_discount") < 0 ||
          col("l_discount") > 0.1, 1L).otherwise(0L)).as("v_disc"),
        sum(when(col("l_shipdate").cast("timestamp") >=
          lit("2001-07-01 00:00:00").cast("timestamp"), 1L).otherwise(0L))
          .as("v_fresh"))
    val oa = Tables.orders(s, dir)
      .join(Tables.customer(s, dir).select(col("c_custkey").as("ck")),
        col("ck") === col("o_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_pk"),
        sum(when(col("ck").isNull, 1L).otherwise(0L)).as("v_fk"),
        sum(when(col("o_orderstatus").isNull ||
          !col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
          .as("v_dom"))
    val ca = Tables.customer(s, dir)
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).as("v_pk"),
        sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("v_null"))
    ppmRows(la, Seq(
        "lineitem_pk_unique" -> "v_pk", "lineitem_fk_orders" -> "v_fk",
        "lineitem_qty_range" -> "v_qty",
        "lineitem_price_positive" -> "v_price",
        "lineitem_discount_range" -> "v_disc",
        "lineitem_freshness" -> "v_fresh"))
      .unionByName(ppmRows(oa, Seq(
        "orders_pk_unique" -> "v_pk", "orders_fk_customer" -> "v_fk",
        "orders_status_domain" -> "v_dom")))
      .unionByName(ppmRows(ca, Seq(
        "customer_pk_unique" -> "v_pk",
        "customer_acctbal_nonnull" -> "v_null")))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        expr("n_violations * 1000000 div n_checked").as("viol_ppm"))
      .orderBy(col("rule"))
  }

  /** q229 — snapshot diff / reconciliation: the "what changed between
    * yesterday's table and today's" audit every warehouse job and
    * every cross-system migration runs. Snapshot B derives from orders
    * by deterministic rules (drop orderkey ≡ 1 mod 89; rewrite status
    * and priority on ≡ 2 mod 97; clone ≡ 3 mod 101 under shifted
    * keys), so both engines reconstruct the identical B. The diff is
    * ONE full-outer join on the key plus ONE conditional aggregate:
    * added/removed/changed/same row classes and per-column change
    * counts all come out of the same pass — adding a compared column
    * costs an expression, not a scan — then unfold with stack. Null
    * semantics via null-safe compares (a changed-to-NULL cell counts
    * as changed, a NULL==NULL cell doesn't).
    */
  val q229 = oracled(
    "q229_snapshot_diff",
    "full-outer reconciliation of two snapshots: row classes + per-column change counts in one pass",
    """WITH b AS (
         SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 97 = 2 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           o_totalprice, o_orderdate,
           CASE WHEN o_orderkey % 97 = 2 THEN '9-CHANGED'
                ELSE o_orderpriority END AS o_orderpriority
         FROM orders WHERE o_orderkey % 89 <> 1
         UNION ALL
         SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 101 = 3),
       j AS (SELECT a.o_orderkey AS ak, b.o_orderkey AS bk,
           a.o_custkey IS DISTINCT FROM b.o_custkey AS d_cust,
           a.o_orderstatus IS DISTINCT FROM b.o_orderstatus AS d_status,
           a.o_totalprice IS DISTINCT FROM b.o_totalprice AS d_price,
           a.o_orderdate IS DISTINCT FROM b.o_orderdate AS d_date,
           a.o_orderpriority IS DISTINCT FROM b.o_orderpriority AS d_prio
         FROM orders a FULL OUTER JOIN b ON b.o_orderkey = a.o_orderkey),
       g AS (SELECT
           CAST(COUNT(*) FILTER (WHERE ak IS NULL) AS BIGINT) AS added,
           CAST(COUNT(*) FILTER (WHERE bk IS NULL) AS BIGINT) AS removed,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND (d_cust OR d_status OR d_price OR d_date OR d_prio))
             AS BIGINT) AS changed,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND NOT (d_cust OR d_status OR d_price OR d_date OR d_prio))
             AS BIGINT) AS same,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND d_cust) AS BIGINT) AS c_cust,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND d_status) AS BIGINT) AS c_status,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND d_price) AS BIGINT) AS c_price,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND d_date) AS BIGINT) AS c_date,
           CAST(COUNT(*) FILTER (WHERE ak IS NOT NULL AND bk IS NOT NULL
             AND d_prio) AS BIGINT) AS c_prio
         FROM j)
       SELECT 'col_changed_custkey' AS metric, c_cust AS value FROM g
       UNION ALL SELECT 'col_changed_orderdate', c_date FROM g
       UNION ALL SELECT 'col_changed_priority', c_prio FROM g
       UNION ALL SELECT 'col_changed_status', c_status FROM g
       UNION ALL SELECT 'col_changed_totalprice', c_price FROM g
       UNION ALL SELECT 'rows_added', added FROM g
       UNION ALL SELECT 'rows_changed', changed FROM g
       UNION ALL SELECT 'rows_removed', removed FROM g
       UNION ALL SELECT 'rows_same', same FROM g
       ORDER BY metric""") { (s, dir) =>
    val a = Tables.orders(s, dir)
    val b = a.filter(col("o_orderkey") % 89 =!= 1)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 97 === 2, "X")
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"),
        when(col("o_orderkey") % 97 === 2, "9-CHANGED")
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      .unionByName(a.filter(col("o_orderkey") % 101 === 3)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")))
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val j = a.alias("a").join(b.alias("b"),
        col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
      .select(col("a.o_orderkey").as("ak") +: col("b.o_orderkey").as("bk")
        +: cols.map(c =>
          not(col(s"a.$c") <=> col(s"b.$c")).as(s"d_$c")): _*)
    val both = col("ak").isNotNull && col("bk").isNotNull
    val anyD = cols.map(c => col(s"d_$c")).reduce(_ || _)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    j.agg(
        cnt(col("ak").isNull).as("added"),
        cnt(col("bk").isNull).as("removed"),
        cnt(both && anyD).as("changed"),
        cnt(both && !anyD).as("same"),
        cnt(both && col("d_o_custkey")).as("c_cust"),
        cnt(both && col("d_o_orderstatus")).as("c_status"),
        cnt(both && col("d_o_totalprice")).as("c_price"),
        cnt(both && col("d_o_orderdate")).as("c_date"),
        cnt(both && col("d_o_orderpriority")).as("c_prio"))
      .select(expr("""stack(9,
          'col_changed_custkey', c_cust,
          'col_changed_orderdate', c_date,
          'col_changed_priority', c_prio,
          'col_changed_status', c_status,
          'col_changed_totalprice', c_price,
          'rows_added', added,
          'rows_changed', changed,
          'rows_removed', removed,
          'rows_same', same) AS (metric, value)"""))
      .orderBy(col("metric"))
  }

  /** q254 — right-to-be-forgotten DELETE PROPAGATION: the erasure
    * cascade a data-governance pipeline must run when subjects exercise
    * deletion — purge the subject rows AND everything that references
    * them, transitively, with an audit proving referential closure.
    * Subjects here: negative-balance AUTOMOBILE customers (a
    * deterministic slice); cascade: their orders, then those orders'
    * lineitems. Shapes: the subject key set is a semi/anti-join probe
    * per referencing table — each level's purge keys derive from the
    * PREVIOUS level's semi-join (never from re-walking the subject
    * predicate), so the cascade is one key-set flow down the FK tree,
    * every join on the FK it prunes. The audit emits per-table
    * purge/retain counts plus `n_orphans_after` — rows in the RETAINED
    * table still referencing a purged parent — which is zero BY
    * CONSTRUCTION of the anti-join, crossed as a computed count (not a
    * literal), so a cascade bug (e.g. purging orders by the subject
    * predicate instead of the customer key set) breaks the gate.
    */
  val q254 = oracled(
    "q254_delete_propagation",
    "GDPR-style erasure cascade: subject → orders → lineitems, with referential-closure audit",
    """WITH subj AS (SELECT c_custkey FROM customer
         WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 0),
       po AS (SELECT o_orderkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM subj)),
       ro AS (SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM subj)),
       rl AS (SELECT l_orderkey FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po))
       SELECT 'customer' AS tbl,
         CAST((SELECT COUNT(*) FROM subj) AS BIGINT) AS n_purged,
         CAST((SELECT COUNT(*) FROM customer) -
              (SELECT COUNT(*) FROM subj) AS BIGINT) AS n_retained,
         CAST(0 AS BIGINT) AS n_orphans_after
       UNION ALL SELECT 'lineitem',
         CAST((SELECT COUNT(*) FROM lineitem) -
              (SELECT COUNT(*) FROM rl) AS BIGINT),
         CAST((SELECT COUNT(*) FROM rl) AS BIGINT),
         CAST((SELECT COUNT(*) FROM rl
               WHERE l_orderkey IN (SELECT o_orderkey FROM po)) AS BIGINT)
       UNION ALL SELECT 'orders',
         CAST((SELECT COUNT(*) FROM po) AS BIGINT),
         CAST((SELECT COUNT(*) FROM ro) AS BIGINT),
         CAST((SELECT COUNT(*) FROM ro
               WHERE o_custkey IN (SELECT c_custkey FROM subj)) AS BIGINT)
       ORDER BY tbl""") { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val ords = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val subj = cust
      .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_acctbal") < 0)
      .select(col("c_custkey")).localCheckpoint()
    // level 1: orders referencing a subject — the purge KEY SET for
    // level 2 derives from this semi-join, not from the predicate
    val purgedOrders = ords
      .join(broadcast(subj), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey")).localCheckpoint()
    val retainedOrders = ords
      .join(broadcast(subj), col("o_custkey") === col("c_custkey"), "left_anti")
    val retainedLi = li
      .join(broadcast(purgedOrders), col("l_orderkey") === col("o_orderkey"),
        "left_anti")
    val nCust = cust.count(); val nSubj = subj.count()
    val nOrd = ords.count(); val nPo = purgedOrders.count()
    val nLi = li.count(); val nRl = retainedLi.count()
    // closure audit COMPUTED on the retained tables (not literals)
    val orphanOrders = retainedOrders
      .join(broadcast(subj), col("o_custkey") === col("c_custkey"), "left_semi")
      .count()
    val orphanLi = retainedLi
      .join(broadcast(purgedOrders), col("l_orderkey") === col("o_orderkey"),
        "left_semi")
      .count()
    import s.implicits._
    Seq(
      ("customer", nSubj, nCust - nSubj, 0L),
      ("lineitem", nLi - nRl, nRl, orphanLi),
      ("orders", nPo, nOrd - nPo, orphanOrders))
      .toDF("tbl", "n_purged", "n_retained", "n_orphans_after")
      .orderBy(col("tbl"))
  }

  /** q258 — the erasure cascade DELIVERED exactly-once (VERDICT r10
    * #8b): q254 computes what must be purged; this query drives the
    * retained tables into the `graft-audit` DSv2 sink as EPOCH-TAGGED
    * writes and proves the at-least-once/exactly-once boundary in the
    * gate. Each retained table publishes its (rows, key-digest)
    * manifest under a deterministic epoch; the job then REPLAYS epoch 1
    * verbatim (the duplicate delivery every retrying scheduler
    * eventually produces), COMPACTS the ledger (Raft snapshot: applied
    * ids fold into the last-included watermark), and replays epoch 1
    * again against the compacted state. The emitted rows are read back
    * from the sink ledgers — if any replay double-applied, rows and
    * digest double and the hash gate breaks; the oracle recomputes the
    * single-application manifests relationally (q140 modular-sum
    * arithmetic). At 100 TB this is the compliance-pipeline shape: the
    * cascade is idempotent under re-submission, and the dedup state
    * stays O(epochs since last snapshot), not O(all epochs ever).
    */
  val q258 = oracled(
    "q258_erasure_audit_ledger",
    "erasure cascade into the exactly-once epoch-ledger audit sink: replay + compaction are no-ops",
    """WITH subj AS (SELECT c_custkey FROM customer
         WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 0),
       po AS (SELECT o_orderkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM subj)),
       rc AS (SELECT c_custkey AS k FROM customer
         WHERE c_custkey NOT IN (SELECT c_custkey FROM subj)),
       ro AS (SELECT o_orderkey AS k FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM subj)),
       rl AS (SELECT l_orderkey AS k FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po))
       SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(k % 1000000007) % 1000000007 AS BIGINT) AS digest,
         CAST(0 AS BIGINT) AS epochs_since_snapshot,
         CAST(1 AS BIGINT) AS watermark
       FROM rc
       UNION ALL SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(k % 1000000007) % 1000000007 AS BIGINT),
         CAST(0 AS BIGINT), CAST(3 AS BIGINT) FROM rl
       UNION ALL SELECT 'orders', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(k % 1000000007) % 1000000007 AS BIGINT),
         CAST(0 AS BIGINT), CAST(2 AS BIGINT) FROM ro
       ORDER BY tbl""") { (s, dir) =>
    import graft.sources.AuditSink
    val cust = Tables.customer(s, dir)
    val ords = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val subj = cust
      .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_acctbal") < 0)
      .select(col("c_custkey")).localCheckpoint()
    val purgedOrders = ords
      .join(broadcast(subj), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey")).localCheckpoint()
    val retained = Seq(
      ("customer", 1L,
        cust.join(broadcast(subj), Seq("c_custkey"), "left_anti")
          .select(col("c_custkey").as("k"))),
      ("orders", 2L,
        ords.join(broadcast(subj), col("o_custkey") === col("c_custkey"),
            "left_anti").select(col("o_orderkey").as("k"))),
      ("lineitem", 3L,
        li.join(broadcast(purgedOrders),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .select(col("l_orderkey").as("k"))))
    def tgt(tbl: String) = s"q258:$dir:$tbl"
    retained.foreach { case (tbl, _, _) => AuditSink.clearLedger(tgt(tbl)) }
    def deliver(tbl: String, epoch: Long, rows: org.apache.spark.sql.DataFrame): Unit =
      rows.write.format("graft-audit")
        .option("target", tgt(tbl)).option("digestColumn", "k")
        .option("epoch", epoch.toString).mode("append").save()
    // first delivery of every epoch
    retained.foreach { case (tbl, e, rows) => deliver(tbl, e, rows) }
    // duplicate delivery (retrying scheduler) — must be a ledger no-op
    val (tbl1, e1, rows1) = retained.head
    deliver(tbl1, e1, rows1)
    // Raft snapshot, then a stale replay against the compacted state
    retained.foreach { case (tbl, _, _) => AuditSink.compact(tgt(tbl)) }
    deliver(tbl1, e1, rows1)
    import s.implicits._
    retained.map { case (tbl, _, _) =>
      val l = AuditSink.ledger(tgt(tbl)).get
      // applied is EMPTY post-snapshot (the ledger stays compact) and
      // the watermark carries the last-included epoch — both crossed
      // as computed values, not literals
      (tbl, l.manifest.rows, l.manifest.digest,
        l.applied.size.toLong, l.watermark)
    }.toDF("tbl", "n_rows", "digest", "epochs_since_snapshot", "watermark")
      .orderBy(col("tbl"))
  }

  /** q276 — STORAGE ENCODING STATISTICS: why a writer sorts within row
    * groups before encoding. For three columns of different shape
    * (returnflag: 3-value categorical via ascii; quantity: narrow
    * numeric; partkey: high-cardinality key) and two physical layouts
    * (arrival order vs sorted-within-segment — exactly
    * `sortWithinPartitions` before write), the ledger reports what the
    * parquet encoder would see PER PAGE: RLE run counts and the total
    * bit-width of successive deltas (length(bin(|Δ|)) — the
    * bit-packing cost driver), plus the dictionary cardinality.
    * The declared arrival order is (orderkey, linenumber, value) —
    * the fixture's (orderkey, linenumber) is NOT unique, and a
    * partial order would leave the lag nondeterministic (found as a
    * ±41-bit delta drift at sf0.01). Segments are orderkey div 1000
    * row groups and every window is
    * PARTITIONED BY segment — encodings are per-page in reality, and
    * it is also what keeps this computable without a global sort at
    * 100 TB. The sorted layout collapses runs (e.g. a 3-value column
    * approaches 3 runs per segment) and shrinks delta bits — the
    * quantified argument behind every "sort your data before writing
    * it" guideline, gated as exact integers on both engines.
    */
  val q276 = oracled(
    "q276_encoding_stats",
    "RLE runs + delta bit-widths + dict cardinality per column × layout (arrival vs sorted)",
    """WITH base AS (SELECT l_orderkey // 1000 AS seg, l_orderkey AS o1,
           l_linenumber AS o2,
           ascii(l_returnflag) AS v_flag,
           CAST(FLOOR(l_quantity) AS BIGINT) AS v_qty,
           l_partkey AS v_part
         FROM lineitem),
       long_ AS (
         SELECT 'returnflag' AS col, seg, o1, o2, CAST(v_flag AS BIGINT) AS v
           FROM base
         UNION ALL SELECT 'quantity', seg, o1, o2, v_qty FROM base
         UNION ALL SELECT 'partkey', seg, o1, o2, v_part FROM base),
       lay AS (
         SELECT col, 'arrival' AS layout, seg, v,
             LAG(v) OVER (PARTITION BY col, seg ORDER BY o1, o2, v) AS pv
           FROM long_
         UNION ALL
         SELECT col, 'sorted', seg, v,
             LAG(v) OVER (PARTITION BY col, seg ORDER BY v, o1, o2)
           FROM long_)
       SELECT col, layout, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN pv IS NULL OR pv <> v THEN 1 ELSE 0 END)
           AS BIGINT) AS n_runs,
         CAST(SUM(CASE WHEN pv IS NULL THEN 0
               ELSE length(bin(abs(v - pv))) END) AS BIGINT) AS delta_bits,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS dict_card
       FROM lay GROUP BY col, layout ORDER BY col, layout""") { (s, dir) =>
    val base = Tables.lineitem(s, dir)
      .select(expr("l_orderkey div 1000").as("seg"),
        col("l_orderkey").as("o1"), col("l_linenumber").as("o2"),
        ascii(col("l_returnflag")).cast("long").as("v_flag"),
        floor(col("l_quantity")).cast("long").as("v_qty"),
        col("l_partkey").as("v_part"))
    val long = base.select(lit("returnflag").as("col"), col("seg"),
        col("o1"), col("o2"), col("v_flag").as("v"))
      .unionByName(base.select(lit("quantity").as("col"), col("seg"),
        col("o1"), col("o2"), col("v_qty").as("v")))
      .unionByName(base.select(lit("partkey").as("col"), col("seg"),
        col("o1"), col("o2"), col("v_part").as("v")))
    def wlay(layout: String, order: Seq[Column]) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("col"), col("seg")).orderBy(order: _*)
      long.select(col("col"), lit(layout).as("layout"), col("seg"),
        col("v"), lag(col("v"), 1).over(w).as("pv"))
    }
    wlay("arrival", Seq(col("o1"), col("o2"), col("v")))
      .unionByName(wlay("sorted", Seq(col("v"), col("o1"), col("o2"))))
      .groupBy(col("col"), col("layout"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("pv").isNull || col("pv") =!= col("v"), 1L)
          .otherwise(0L)).as("n_runs"),
        sum(when(col("pv").isNull, 0L)
          .otherwise(length(bin(abs(col("v") - col("pv")))).cast("long")))
          .as("delta_bits"),
        countDistinct(col("v")).as("dict_card"))
      .orderBy(col("col"), col("layout"))
  }

  // ------------------------------------------------- zone-map skipping

  /** q289 — ZONE-MAP data-skipping ledger (the min/max segment sketch
    * behind every modern scan pruner — parquet row-group stats, ORC
    * stripe stats, Snowflake micro-partitions, ClickHouse marks):
    * lineitem is segmented into 512-row segments under TWO layouts —
    * arrival order (l_orderkey, l_linenumber) and shipdate-sorted —
    * each segment keeps (min, max) of the ship date, and four date
    * predicates are evaluated against the maps. Per (predicate,
    * layout) the ledger reports segments scanned (zone intersects
    * range), rows inside scanned segments, and the exact match count
    * — which is layout-INVARIANT and appears in both layout rows, so
    * the gate itself cross-checks that skipping never changes
    * answers, only I/O. The sort-before-store payoff is the visible
    * gap: sorted layout scans ~selectivity-proportional segments,
    * arrival scans nearly all (complements q276's encoding-size view
    * and q264's visit-order view of the same layout decision).
    *
    * Scale shape: segment ids come from [[graft.plans.Ordinal]] — the
    * range-partitioned-sort + zipWithIndex global ordinal, NOT a
    * single-task row_number window (the 100 TB straggler); zone maps
    * are one partial-aggregable groupBy(layout, seg); everything
    * after runs on the segment-count-sized map table against a
    * 4-row broadcast predicate dimension. In production the segment
    * id is free (it IS the file/row-group); the ordinal here makes
    * the layout experiment self-contained and deterministic.
    */
  val q289 = oracled(
    "q289_zone_map_skipping",
    "min/max zone-map pruning ledger: arrival vs shipdate-sorted segments x 4 predicates",
    """WITH preds(pred_id, lo, hi) AS (VALUES
         (1, DATE '1993-01-01', DATE '1993-03-31'),
         (2, DATE '1995-06-01', DATE '1995-06-30'),
         (3, DATE '1992-01-01', DATE '1998-12-31'),
         (4, DATE '1998-09-01', DATE '1998-12-31')),
       base AS (SELECT l_orderkey AS k1, l_linenumber AS k2,
           CAST(l_shipdate AS DATE) AS d FROM lineitem),
       lay AS (
         SELECT 'arrival' AS layout,
             (ROW_NUMBER() OVER (ORDER BY k1, k2, d) - 1) // 512 AS seg, d
           FROM base
         UNION ALL
         SELECT 'sorted',
             (ROW_NUMBER() OVER (ORDER BY d, k1, k2) - 1) // 512, d
           FROM base),
       zm AS (SELECT layout, seg, MIN(d) AS min_d, MAX(d) AS max_d,
           CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM lay GROUP BY 1, 2),
       scan AS (SELECT p.pred_id, z.layout,
           CAST(COUNT(*) AS BIGINT) AS n_seg_total,
           CAST(SUM(CASE WHEN z.max_d >= p.lo AND z.min_d <= p.hi
             THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
           CAST(SUM(CASE WHEN z.max_d >= p.lo AND z.min_d <= p.hi
             THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_in_scanned
         FROM zm z CROSS JOIN preds p GROUP BY 1, 2),
       m AS (SELECT p.pred_id,
           CAST(SUM(CASE WHEN b.d BETWEEN p.lo AND p.hi THEN 1 ELSE 0
             END) AS BIGINT) AS rows_matched
         FROM base b CROSS JOIN preds p GROUP BY 1)
       SELECT CAST(s.pred_id AS BIGINT) AS pred_id, s.layout,
         s.n_seg_total, s.n_scanned, s.rows_in_scanned, m.rows_matched
       FROM scan s JOIN m ON m.pred_id = s.pred_id
       ORDER BY pred_id, layout""") { (s, dir) =>
    import s.implicits._
    import graft.plans.Ordinal
    val preds = Seq((1L, "1993-01-01", "1993-03-31"),
        (2L, "1995-06-01", "1995-06-30"),
        (3L, "1992-01-01", "1998-12-31"),
        (4L, "1998-09-01", "1998-12-31"))
      .toDF("pred_id", "lo_s", "hi_s")
      .select(col("pred_id"), to_date(col("lo_s")).as("lo"),
        to_date(col("hi_s")).as("hi"))
    val base = Tables.lineitem(s, dir).select(
      col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
      col("l_shipdate").cast("date").as("d"))
    def segs(layout: String, order: Column*): DataFrame =
      Ordinal.withGlobalOrdinal(base, "rn", order: _*)
        .select(lit(layout).as("layout"),
          expr("(rn - 1) div 512").as("seg"), col("d"))
    // d is the FINAL tiebreak on the arrival layout: the fixture has
    // duplicate (k1, k2) pairs with differing d (q276 hit the same tie
    // drift), so (k1, k2) alone is a partial order and a 512-row
    // boundary splitting a tie group could place differing dates
    // nondeterministically — violating Ordinal's total-order contract.
    // Rows still tied under (k1, k2, d) are identical in d and cannot
    // change any zone map.
    val lay = segs("arrival", col("k1"), col("k2"), col("d"))
      .union(segs("sorted", col("d"), col("k1"), col("k2")))
    val zm = lay.groupBy(col("layout"), col("seg"))
      .agg(min(col("d")).as("min_d"), max(col("d")).as("max_d"),
        count(lit(1)).as("n_rows"))
    val scan = zm.crossJoin(broadcast(preds))
      .groupBy(col("pred_id"), col("layout"))
      .agg(count(lit(1)).as("n_seg_total"),
        sum(when(col("max_d") >= col("lo") && col("min_d") <= col("hi"),
          1L).otherwise(0L)).as("n_scanned"),
        sum(when(col("max_d") >= col("lo") && col("min_d") <= col("hi"),
          col("n_rows")).otherwise(0L)).as("rows_in_scanned"))
    val m = base.crossJoin(broadcast(preds))
      .groupBy(col("pred_id"))
      .agg(sum(when(col("d").between(col("lo"), col("hi")), 1L)
        .otherwise(0L)).as("rows_matched"))
    scan.join(m, Seq("pred_id"))
      .select(col("pred_id"), col("layout"), col("n_seg_total"),
        col("n_scanned"), col("rows_in_scanned"), col("rows_matched"))
      .orderBy(col("pred_id"), col("layout"))
  }

  // ------------------------------------------- compression headroom

  /** q298 — ENTROPY vs DICTIONARY-WIDTH compression headroom (the
    * column-store sizing question q276's RLE/delta/dict statistics
    * stop short of: dict encoding spends ceil(log2 ndv) bits per
    * value, the Shannon bound says H(column) — the GAP is what a
    * better entropy coder, or a sort that feeds RLE, can still win):
    * per categorical column (l_returnflag, l_linestatus, p_brand,
    * o_orderstatus, o_orderpriority) the ledger reports n, ndv, the
    * exact dict width bits = CASE ndv=1 → 0 ELSE length(bin(ndv−1)),
    * and the ×N×2²⁰ integer entropy H_num = Σ_v c_v·(L2(N) − L2(c_v))
    * via the shared [[graft.functions.IntLog2]] (H bits/value =
    * H_num / (N·2²⁰)); dict_total_bits_x20 = N·bits·2²⁰ rides along
    * so headroom is a same-scale integer subtraction on the
    * consumer's side.
    *
    * Scale shape: one unpivot (explode over a 5-literal array — no
    * per-column re-scan) feeding one partial-aggregable
    * groupBy(col, value); everything after runs on the value-domain-
    * bounded frequency table. The q283/q292 IntLog2 discipline.
    */
  val q298 = oracled(
    "q298_compression_headroom",
    "per-column entropy (IntLog2 x20) vs dict bit-width: the encoder headroom ledger",
    {
      val l2 = (e: String) => graft.functions.IntLog2.duckSql(e)
      s"""WITH u AS (
           SELECT 'l_returnflag' AS cname, l_returnflag AS v FROM lineitem
           UNION ALL
           SELECT 'l_linestatus', l_linestatus FROM lineitem
           UNION ALL
           SELECT 'p_brand', p_brand FROM part
           UNION ALL
           SELECT 'o_orderstatus', o_orderstatus FROM orders
           UNION ALL
           SELECT 'o_orderpriority', o_orderpriority FROM orders),
         f AS (SELECT cname, v, CAST(COUNT(*) AS BIGINT) AS c
           FROM u GROUP BY 1, 2),
         st AS (SELECT cname, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS ndv
           FROM f GROUP BY 1),
         h AS (SELECT f.cname,
             CAST(SUM(f.c * (${l2("st.n")} - ${l2("f.c")})) AS BIGINT)
               AS h_num_x20
           FROM f JOIN st USING (cname) GROUP BY 1)
         SELECT st.cname, st.n, st.ndv,
           CAST(CASE WHEN st.ndv = 1 THEN 0
             ELSE length(bin(st.ndv - 1)) END AS BIGINT) AS dict_bits,
           h.h_num_x20,
           CAST(st.n * (CASE WHEN st.ndv = 1 THEN 0
             ELSE length(bin(st.ndv - 1)) END) * 1048576 AS BIGINT)
             AS dict_total_bits_x20
         FROM st JOIN h USING (cname) ORDER BY cname"""
    }) { (s, dir) =>
    val l2s = (e: String) => graft.functions.IntLog2.sparkSql(e)
    val li = Tables.lineitem(s, dir)
    val or = Tables.orders(s, dir)
    val u = li.select(lit("l_returnflag").as("cname"),
        col("l_returnflag").as("v"))
      .union(li.select(lit("l_linestatus"), col("l_linestatus")))
      .union(Tables.part(s, dir).select(lit("p_brand"), col("p_brand")))
      .union(or.select(lit("o_orderstatus"), col("o_orderstatus")))
      .union(or.select(lit("o_orderpriority"), col("o_orderpriority")))
    val f = u.groupBy(col("cname"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val st = f.groupBy(col("cname"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("ndv"))
    val h = f.join(broadcast(st), Seq("cname"))
      .select(col("cname"),
        (col("c") * (expr(l2s("n")) - expr(l2s("c")))).as("t"))
      .groupBy(col("cname")).agg(sum(col("t")).as("h_num_x20"))
    val bits = when(col("ndv") === 1, 0L)
      .otherwise(expr("length(bin(ndv - 1))").cast("long"))
    st.join(h, Seq("cname"))
      .select(col("cname"), col("n"), col("ndv"), bits.as("dict_bits"),
        col("h_num_x20"),
        (col("n") * bits * lit(1048576L)).as("dict_total_bits_x20"))
      .orderBy(col("cname"))
  }

  val all: Seq[GQuery] =
    Seq(q92, q105, q106, q123, q125, q139, q175, q192, q205, q206, q213,
      q214, q225, q229, q254, q258, q276, q289, q298)
}
