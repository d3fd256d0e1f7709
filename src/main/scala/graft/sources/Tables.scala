package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated fixtures (TESTDATA.md).
  *
  * Parquet is self-describing: the schema comes from the file's footer
  * (inferred once per file, see [[apply]]), and Catalyst gets full
  * pushdown + pruning on the scan (`PushedFilters`/`ReadSchema` in
  * explain). At 100 TB these would be partitioned tables behind a
  * catalog; the single-file layout here is the fixture shape only, and
  * nothing below assumes a row count or a single partition.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferring a parquet schema runs a one-task job that reads a footer,
    * so it runs once per table file: later reads pass the schema it found
    * while the file and the session's parquet settings are unchanged.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = Stamp(spark, path)
    Option(schemas.get(path)).filter(c => stamp.contains(c._1)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        stamp.foreach(st => schemas.put(path, (st, df.schema)))
        df
    }
  }

  /** What an inferred schema depends on: every file under the path with
    * its length and modification time, so a rewritten table is read again,
    * and the session's parquet settings, which change how footer types map
    * to Spark's (`nanosAsLong`, `binaryAsString`, ...). `None` when the
    * path cannot be listed; the read then reports why.
    */
  private final case class Stamp(files: Seq[(String, Long, Long)], conf: Map[String, String])
  private object Stamp {
    def apply(spark: SparkSession, path: String): Option[Stamp] = Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val files = (if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
      Stamp(files, spark.conf.getAll.filter(_._1.contains("parquet")))
    }.toOption
  }
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** events.ts normalization. The fixture generator has shipped two
    * encodings across rounds: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read as raw nanos under
    * `spark.sql.legacy.parquet.nanosAsLong` and floor-divide to micros,
    * matching DuckDB's own nanos→micros truncation) and, since round 7,
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    * Downstream code and every oracle assume a session-zone TIMESTAMP
    * under the repo's pinned UTC session, so both encodings normalize to
    * TimestampType here — dispatch on the self-described file type, no
    * conf sniffing. The NTZ→LTZ cast reinterprets the wall-clock in the
    * session zone (UTC), i.e. the identical micros instant.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // Defensive: a ns-encoded file fails Spark's parquet schema inference
    // ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))") before the
    // LongType dispatch below can run unless the session reads nanos as
    // raw longs. The repo's mains set this at build time; this keeps the
    // "no conf needed by the caller" contract true for any session.
    // DOCUMENTED MUTATION (ADVICE r8): for a caller-supplied session that
    // did NOT set the conf, this writes it session-wide — a later
    // nanos-parquet read on that session then sees raw longs instead of
    // an error. Guarded so a caller's explicit setting (either value) is
    // never overridden; the alternative (a cloned session per read) would
    // hand back DataFrames bound to a different session than the caller's
    // own tables, which breaks view registration and conf-sensitive plans.
    if (s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")

  /** The named fixture table as queries read it: `events` through
    * [[events]]'s ts normalization, every other table as stored.
    */
  def named(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else apply(s, d, name)
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Headerless TSV ratings reader matching the reference's input shape
    * (SVDMovieLensSparkJava.java:191,195-197 — tab-split, positional int
    * columns; the 4th MovieLens column is a timestamp the reference drops,
    * we keep it). Used by the recommender pipeline when fed real
    * MovieLens-format files.
    */
  def ratingsTsv(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", IntegerType, nullable = false),
      StructField("item_id", IntegerType, nullable = false),
      StructField("rating", IntegerType, nullable = false),
      StructField("ts", LongType, nullable = true)))
    s.read.schema(schema).option("sep", "\t").csv(path)
  }
}
