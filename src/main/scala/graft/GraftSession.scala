package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions
import graft.sources.Tables

/** One-call bootstrap for SQL-first users of the engine: a tuned local
  * SparkSession with graft's native SQL functions injected and every
  * fixture table registered as a view, so the entire query surface is
  * reachable as plain `spark.sql(...)` — the switchover path for a
  * reference user whose workflow is "load tables, run queries".
  *
  * `open` builds a new session via `withExtensions` (the production
  * registration path); `attach` registers views + functions on an
  * existing session (REPL / notebook / test path).
  */
object GraftSession {

  /** Spark's compiled-class cache size, a static conf. The cache is one
    * JVM-wide LRU keyed by (class loader, generated source), and the
    * driver and the tasks compile under different loaders, so each class
    * takes two entries. A pass of the benchmark's eight queries needs
    * about 280; at Spark's default of 100 the cache thrashes and every
    * run of a query recompiles all its classes through Janino. Each entry
    * keeps its source as the key, about 20 KB of heap.
    */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 1000

  /** A `local[cores]` builder carrying graft's session defaults: shuffle
    * parallelism sized to cores (not Spark's default 200 — at local scale
    * 200 near-empty partitions just add scheduler latency), UTC timestamps
    * for engine-portable date math, no UI, and ns-encoded parquet
    * timestamps readable as longs (see [[Tables.events]]). The codegen
    * cache size reaches the session through the system properties (see
    * [[installJvmDefaults]]).
    */
  def builder(cores: Int): SparkSession.Builder = {
    installJvmDefaults()
    SparkSession.builder().master(s"local[$cores]").config(Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"))
  }

  /** Makes [[CodegenCacheEntries]] the default of sessions that a host
    * builds itself: every `SparkConf` created afterwards reads it from the
    * system properties. It is written only when the key is unset, so a
    * host's `-D` or builder `.config` still wins. [[SparkEntry]] calls this
    * when it loads, before a host that asks it for queries builds its
    * session. A session that already exists fixed the cache size when it
    * first compiled; if that size is smaller, this says so once.
    */
  def installJvmDefaults(): Unit =
    if (!sys.props.contains(CodegenCacheKey)) {
      sys.props(CodegenCacheKey) = CodegenCacheEntries.toString
      SparkSession.getDefaultSession.map(_.conf.get(CodegenCacheKey).toInt)
        .filter(_ < CodegenCacheEntries)
        .foreach { n =>
          if (warned.compareAndSet(false, true))
            System.err.println(s"[graft] a session was built before graft loaded, " +
              s"with $CodegenCacheKey = $n; queries will recompile their generated " +
              s"classes on every run (graft's default is $CodegenCacheEntries)")
        }
    }
  private val warned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A session from [[builder]] with graft's native SQL functions injected
    * and every fixture table registered as a view. `open` builds it via
    * `withExtensions` (the production registration path).
    */
  def open(sfDir: String, master: String = "local[*]"): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().max(1)
    val spark = builder(cores)
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      .getOrCreate()
    attach(spark, sfDir)
    spark
  }

  /** Registers the fixture tables as temp views on `spark` (idempotent;
    * re-attach to point the views at a different scale factor). Also
    * registers `ratings` — the derived MovieLens-shaped relation the
    * recommender family (q30–q38, q86) and the graph family
    * (q138/q152/q154/q158/q162) are defined over — so SQL users query
    * the same relation the engine queries without re-deriving it.
    */
  def attach(spark: SparkSession, sfDir: String): Unit = {
    GraftExtensions.register(spark)
    Tables.names.foreach(t => Tables.named(spark, sfDir, t).createOrReplaceTempView(t))
    ml.Recommender.ratings(spark, sfDir).createOrReplaceTempView("ratings")
  }
}
