package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions
import graft.streaming.UserActivityState

/** SQL-function registration of the native expressions + custom stateful
  * streaming (mapGroupsWithState).
  */
class ExtensionsSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("native expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT rolling_hash('hello') AS h,
                dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS c""")
      .head()
    // independent reference: ((...(0*31+'h')%p ...) over bytes of "hello"
    val expected = "hello".getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    assert(r.getLong(0) === expected)
    assert(r.getDouble(1) === 11.0)
    assert(r.getInt(2) === 2)
  }

  test("theta scalar functions are callable from SQL") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // 60 keys < 64 nominal: exact mode, so the bound checks are
    // deterministic identities (|A∩B|=31, |A∪B|=60, |A∖B|=29)
    (1L to 60L).toDF("k")
      .agg(
        theta_sketch_agg(col("k"), 6).as("a"),
        theta_sketch_agg(when(col("k") >= 30, col("k")), 6).as("b"))
      .createOrReplaceTempView("theta_ext")
    val r = spark.sql(
      """SELECT theta_in_bounds(theta_intersection(a, b), 31L) AS i,
                theta_in_bounds(theta_union(a, b), 60L) AS u,
                theta_in_bounds(theta_difference(a, b), 29L) AS d
         FROM theta_ext""").head()
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
  }

  test("aggregate functions are callable from SQL: theta aggs + ams_f2") {
    GraftExtensions.register(spark)
    import spark.implicits._
    (1L to 60L).map(k => (k % 3, k)).toDF("g", "k")
      .createOrReplaceTempView("agg_ext")
    // per-group sketches union-merged == direct sketch, both via SQL;
    // 60 distinct keys < 64 nominal so the bound is an exact identity
    val r = spark.sql(
      """WITH per AS (SELECT g, theta_sketch_agg(k, 6) AS sk
           FROM agg_ext GROUP BY g)
         SELECT theta_in_bounds(
             (SELECT theta_union_agg(sk, 6) FROM per), 60L) AS ok""").head()
    assert(r.getBoolean(0))
    // AMS F2: 60 singletons -> exact F2 = 60, estimate within the bound
    val f2 = spark.sql("SELECT ams_f2_agg(k) FROM agg_ext").head().getLong(0)
    assert(math.abs(f2 - 60L) <= 60L * 265 / 1000)
    // non-literal sketch size is rejected loudly, not silently misused
    val e = intercept[Exception](
      spark.sql("SELECT theta_sketch_agg(k, CAST(g AS INT)) FROM agg_ext")
        .head())
    assert(e.getMessage.contains("THETA_LG_NOM_ENTRIES_MUST_BE_CONSTANT"), e.getMessage)
  }

  test("no graft SQL function shadows a Spark built-in") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val shadowing = GraftExtensions.descriptions.map(_._1)
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.isEmpty, s"graft re-registers Spark built-ins: $shadowing")
    // Spark's documented forms work in a graft session: the one-argument
    // theta_sketch_agg (default lgNom) and the three-argument theta_union
    val s = GraftSession.open(sfDir, "local[4]")
    val r = s.sql(
      """WITH sk AS (SELECT theta_sketch_agg(id) AS a,
                             theta_sketch_agg(id + 50) AS b FROM range(100))
         SELECT theta_sketch_estimate(a) AS n_a,
                theta_sketch_estimate(theta_union(a, b, 8)) AS n_u
         FROM sk""").head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 150L, r.toString)
  }

  test("SQL rolling_hash matches the Column-API expression over real data") {
    GraftExtensions.register(spark)
    graft.sources.Tables.documents(spark, sfDir).createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql("SELECT doc_id, rolling_hash(text) AS fp FROM docs_ext ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val viaCol = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.RollingHash.rollingHash(col("text")).as("fp"))
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.toSeq === viaCol.toSeq)
  }

  test("GraftSession.attach exposes every table and native function to plain SQL") {
    GraftSession.attach(spark, sfDir)
    // all ten fixture views queryable by name
    graft.sources.Tables.names.foreach { t =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) > 0, t)
    }
    // events view carries the nanos→micros-converted timestamp
    val days = spark.sql(
      "SELECT count(DISTINCT date_trunc('DAY', ts)) AS d FROM events").head().getLong(0)
    assert(days > 1, s"events.ts not usable as a timestamp (distinct days=$days)")
    // native function + view in one SQL statement
    val fp = spark.sql(
      "SELECT rolling_hash(text) AS fp FROM documents ORDER BY doc_id LIMIT 1").head().getLong(0)
    assert(fp != 0L)
  }

  test("SQL-surface queries leave the caller's temp views unchanged") {
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    Seq(operators.Advanced.q61, operators.Temporal.q117,
        operators.Advanced.q118, operators.Advanced.q119,
        operators.Relational.q202)
      .foreach(q => q.run(spark, sfDir).collect())
    assert(tempViews === before)
  }

  test("injectParser: SHOW GRAFT QUERIES / FUNCTIONS parse on the withExtensions path") {
    val prev = spark // materialize the shared session (and its context) first
    // getOrCreate reuses any default session and would skip extension
    // injection — drop the defaults for the duration, restore after
    SparkSession.setDefaultSession(null)
    SparkSession.setActiveSession(null)
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-parser")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val qs = s2.sql("SHOW GRAFT QUERIES")
      assert(qs.columns.toSeq === Seq("name", "description", "oracled"))
      val names = qs.collect().map(_.getString(0))
      assert(names.length == SparkEntry.registry.size && names.contains("q01_pricing_summary"))
      // the result is an ordinary relation: view it, then filter/count
      s2.sql("SHOW GRAFT QUERIES").createOrReplaceTempView("graft_queries")
      val oracled = s2.sql("SELECT count(*) AS n FROM graft_queries WHERE oracled")
        .head().getLong(0)
      assert(oracled == SparkEntry.registry.count(_.oracle.isDefined))
      val fns = s2.sql("SHOW GRAFT FUNCTIONS ;").collect().map(_.getString(0))
      assert(fns.toSet == GraftExtensions.descriptions.map(_._1).toSet)
      // SHOW GRAFT ARTIFACTS surfaces the tier's on-disk state — build
      // one artifact, then find it in the listing, complete and unlocked
      Memo.artifact(s2, "/extspec/show", "tshow") {
        s2.range(12).toDF("id") }.count()
      val arts = s2.sql("SHOW GRAFT ARTIFACTS")
      assert(arts.columns.toSeq === Seq(
        "dir", "name", "files", "bytes", "complete", "locked", "modified_ms"))
      val mine = arts.filter(
        s"dir = '${Memo.dirSegment("/extspec/show")}' AND name = 'tshow'").collect()
      assert(mine.length == 1 && mine.head.getBoolean(4) && !mine.head.getBoolean(5)
        && mine.head.getLong(3) > 0, arts.collect().mkString("\n"))
      // delegation: ordinary SQL (and deliberate syntax errors) behave as stock
      assert(s2.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        s2.sql("SHOW GRAFT NONSENSE")
      }
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("mapGroupsWithState per-user profiles equal batch aggregates after drain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events_state")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("events.parquet"))
    val profiles = UserActivityState.profiles(
      UserActivityState.fromRaw(spark, dir.toString))
    val q = profiles.toDF().writeStream
      .outputMode("update").format("memory").queryName("profiles_test").start()
    try {
      q.processAllAvailable()
      // Update mode: keep the latest row per user
      val streamed = spark.sql(
        """SELECT user_id, n_events, n_purchases FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
             FROM profiles_test) WHERE rn = 1""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.sources.Tables.events(spark, sfDir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }
}
