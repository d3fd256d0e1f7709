package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.Bus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{GQuery, Memo, SparkEntry}
import graft.ml.RecommenderPipeline
import graft.sources.Tables

/** Closed-loop benchmark of the engine: one client, one op at a time.
  *
  * A run sets up once, timed from JVM start (session start, table warm-up
  * and [[WarmupPasses]] untimed passes over the op list, the first of which
  * builds the memo artifacts), then runs timed passes until `--seconds` have gone by and
  * at least [[MinPasses]] have run. Each op's output is checked. With
  * `--trace 1` a [[Tracer]] is attached and the run also splits each op
  * into layers; without it no listener is attached.
  *
  * Everything is written as one JSON document to `--out`; `run.py` turns
  * it into the result line.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tables: String, ratings: String, work: String,
      expected: String, record: Boolean, out: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  val Workloads: Map[String, Seq[String]] = Map(
    "queries" -> Seq("q152", "q172", "q203", "q01", "q182", "q199", "q215", "q216"),
    "recommender" -> Seq("pipeline"))

  /** After one untimed pass the JIT is still settling: the next three
    * passes each ran 5-20% faster than the one before, so their median
    * fell on a pass still speeding up. A second untimed pass settles it.
    */
  val WarmupPasses = 2

  /** Timed passes per run at the least, so the median has two neighbours. */
  val MinPasses = 3

  /** The untouched sub-second sentinel query (in no workload). */
  val SentinelQuery = "q02"

  /** One timed op: wall interval (epoch ms), build/action seconds
    * (nanoTime), and the layer counters when traced.
    */
  final case class OpRun(op: String, startMs: Long, buildEndMs: Long,
      endMs: Long, buildS: Double, actionS: Double,
      totals: Totals = Totals(), jobs: Seq[JobRec] = Nil) {
    def wallS: Double = buildS + actionS
  }
  final case class PassRun(startMs: Long, endMs: Long, wallS: Double, ops: Seq[OpRun])

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val c = parse(args)
    val names = Workloads.getOrElse(c.workload,
      sys.error(s"unknown workload ${c.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val registry = SparkEntry.registry
    def query(short: String): GQuery = registry.find(_.name.startsWith(short + "_"))
      .getOrElse(sys.error(s"no query $short in the registry"))
    val queries = names.filter(_ != "pipeline").map(n => n -> query(n)).toMap
    val sentinel = query(SentinelQuery)
    val expected = if (c.record) Map.empty[String, (Long, String)] else readExpected(c.expected)
    val facts = if (c.workload == "recommender") json.readTree(Paths.get(c.ratings, "facts.json").toFile)
      else null
    val observed = mutable.LinkedHashMap.empty[String, (Long, String)]
    var attempted = 0; var failed = 0
    val maes = mutable.ArrayBuffer.empty[Double]

    var spark: SparkSession = null
    var tracer: Tracer = null

    // -- one op: build, then the checked action --------------------------
    def runOp(op: String): OpRun = {
      attempted += 1
      // drained first, so work run between ops (sentinels) is not counted here
      val mark = if (tracer == null) null else { Bus.drain(spark.sparkContext); tracer.mark() }
      val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      var buildEndMs = startMs; var t1 = t0
      val ok = try {
        if (op == "pipeline") {
          val pred = s"${c.work}/predictions"
          val r = RecommenderPipeline.run(spark, s"${c.ratings}/train.tsv",
            s"${c.ratings}/test.tsv", pred)
          buildEndMs = System.currentTimeMillis(); t1 = System.nanoTime()
          checkPipeline(spark, r, pred, facts, maes)
        } else {
          val df = queries(op).run(spark, c.tables)
          buildEndMs = System.currentTimeMillis(); t1 = System.nanoTime()
          val got = contentHash(df)
          if (c.record) { observed(queries(op).name) = got; true }
          else checkQuery(queries(op).name, got, expected)
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $op failed: $e"); false
      }
      val t2 = System.nanoTime(); val endMs = System.currentTimeMillis()
      if (t1 == t0) { t1 = t2; buildEndMs = endMs } // threw while building
      if (!ok) failed += 1
      val base = OpRun(op, startMs, buildEndMs, endMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      if (tracer == null) base
      else {
        Bus.drain(spark.sparkContext)
        val (tot, jobs) = tracer.since(mark)
        base.copy(totals = tot, jobs = jobs)
      }
    }

    def runPass(order: Seq[String]): PassRun = {
      val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      val ops = order.map(runOp)
      PassRun(startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, ops)
    }

    // -- set-up, timed from JVM start -------------------------------------
    val mainMs = System.currentTimeMillis()
    spark = session(c)
    val sessionMs = System.currentTimeMillis()
    if (c.trace) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
    }
    if (c.workload == "recommender")
      Seq("train", "test").foreach(f => Tables.ratingsTsv(spark, s"${c.ratings}/$f.tsv").count())
    else Tables.names.foreach { t =>
      (if (t == "events") Tables.events(spark, c.tables) else Tables(spark, c.tables, t)).count()
    }
    val tablesMs = System.currentTimeMillis()
    for (_ <- 1 to WarmupPasses) { runPass(names); spark.catalog.clearCache() }
    val setupEndMs = System.currentTimeMillis()
    val setupS = (setupEndMs - jvmStartMs) / 1000.0

    // -- host sentinels: a pure-JVM kernel and an untouched query --------
    val sentinels = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def sentinelPoint(at: String): Unit = {
      val k = median((1 to 3).map(_ => kernel()))
      val t0 = System.nanoTime(); contentHash(sentinel.run(spark, c.tables))
      val q = (System.nanoTime() - t0) / 1e9
      sentinels += ((at, k, q))
    }

    // -- timed phase -----------------------------------------------------
    val heapMb = mutable.ArrayBuffer.empty[Double]
    sentinelPoint("start")
    val passes = mutable.ArrayBuffer.empty[PassRun]
    // the seed picks the op order; pass i rotates it by i, so over a run
    // each op takes each position equally often
    val order = new scala.util.Random(c.seed).shuffle(names)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var middleDone = false
    while (passes.size < MinPasses || elapsed < c.seconds) {
      val k = passes.size % order.size
      passes += runPass(order.drop(k) ++ order.take(k))
      spark.catalog.clearCache()
      heapMb += oldGenAfterGcMb()
      if (!middleDone && elapsed >= c.seconds / 2) { sentinelPoint("middle"); middleDone = true }
    }
    val measuredS = elapsed
    if (!middleDone) sentinelPoint("middle")
    sentinelPoint("end")

    val ledger = Memo.ledger
    val traced = if (tracer != null) Some(layers(c, names, passes.toSeq, ledger, maes.toSeq,
      attempted, failed, sentinels.toSeq)) else None
    if (tracer != null) writeSpans(s"${c.work}/spans.json", passes.toSeq)
    spark.stop()

    // -- result document ---------------------------------------------------
    val opMedians = names.map(n => median(passes.flatMap(_.ops.filter(_.op == n).map(_.wallS)).toSeq))
    val root = json.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val e2e = root.putObject("end_to_end")
    e2e.put("setup_s", setupS)
    e2e.put("pass_s", median(passes.map(_.wallS).toSeq))
    e2e.put("op_geomean_s", math.exp(opMedians.map(math.log).sum / opMedians.size))
    e2e.put("heap_peak_mb", heapMb.max)
    traced.foreach { m => val l = root.putObject("per_layer"); m.foreach { case (k, v) => l.put(k, v) } }
    val info = root.putObject("info")
    info.put("workload", c.workload); info.put("seed", c.seed); info.put("cores", c.cores)
    info.put("measured_s", measuredS)
    val sp = info.putObject("setup_parts_s")
    Seq("jvm" -> (mainMs - jvmStartMs), "session" -> (sessionMs - mainMs),
      "tables" -> (tablesMs - sessionMs), "warmup_passes" -> (setupEndMs - tablesMs))
      .foreach { case (k, ms) => sp.put(k, ms / 1000.0) }
    val ps = info.putArray("pass_s"); passes.foreach(p => ps.add(p.wallS))
    val hs = info.putArray("heap_mb"); heapMb.foreach(hs.add(_))
    val n = passes.size
    info.put("pass_samples", n)
    // highest percentile with at least ten samples beyond it, if any
    if (n > 10) {
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      info.put("pass_tail_percentile", pct)
      info.put("pass_tail_s", passes.map(_.wallS).sorted.apply(((n * pct) / 100 - 1).max(0)))
    }
    val om = info.putObject("op_median_s"); names.zip(opMedians).foreach { case (k, v) => om.put(k, v) }
    val sn = info.putArray("sentinels")
    sentinels.foreach { case (at, k, q) =>
      val o = sn.addObject(); o.put("at", at); o.put("kernel_s", k); o.put("query_s", q) }
    if (maes.nonEmpty) { info.put("mae", median(maes.toSeq)); info.put("global_mean_mae", facts.get("global_mean_mae").asDouble()) }
    if (tracer != null) {
      val u = info.putArray("unsteady_counters"); unsteadyCounters(names, passes.toSeq).foreach(u.add)
    }
    if (c.record) {
      val o = info.putObject("observed")
      observed.foreach { case (k, (rows, h)) => val r = o.putObject(k); r.put("rows", rows); r.put("hash", h) }
    }
    Files.writeString(Paths.get(c.out), json.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  // ---------------------------------------------------------------------

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("tables"), get("ratings"), get("work"),
      get("expected"), m.get("record").contains("1"), get("out"))
  }

  private def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-insensitive content hash: row count plus the exact sum of a
    * 64-bit hash of every row (maps go through JSON, which hash cannot take).
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(s"`${f.name}`"))
      else col(s"`${f.name}`")
    }
    val row = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (row.getLong(0), if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val ops = json.readTree(Paths.get(path).toFile).get("ops")
    ops.fieldNames().asScala.map { k =>
      val o = ops.get(k); k -> ((o.get("rows").asLong(), o.get("hash").asText()))
    }.toMap
  }

  private def checkQuery(name: String, got: (Long, String),
      expected: Map[String, (Long, String)]): Boolean = expected.get(name) match {
    case Some(want) if want == got => true
    case want =>
      System.err.println(s"[perfbench] $name output $got, expected ${want.getOrElse("(none recorded)")}")
      false
  }

  /** The pipeline's output checks: one prediction per test row, each in
    * [1, 5], and an MAE below the global-mean MAE on the same split.
    */
  private def checkPipeline(spark: SparkSession, r: RecommenderPipeline.Result,
      pred: String, facts: com.fasterxml.jackson.databind.JsonNode,
      maes: mutable.ArrayBuffer[Double]): Boolean = {
    val testRows = facts.get("test_rows").asLong()
    val base = facts.get("global_mean_mae").asDouble()
    val row = spark.read.option("sep", "\t").csv(pred)
      .agg(count(lit(1)), min(col("_c3").cast("double")), max(col("_c3").cast("double"))).head()
    maes += r.mae
    val ok = r.nPredictions == testRows && row.getLong(0) == testRows &&
      row.getDouble(1) >= 1.0 && row.getDouble(2) <= 5.0 && r.mae < base
    if (!ok) System.err.println(s"[perfbench] pipeline: ${r.nPredictions} predictions " +
      s"(file ${row.getLong(0)}, test $testRows), range [${row.get(1)}, ${row.get(2)}], " +
      s"MAE ${r.mae} vs global-mean $base")
    ok
  }

  @volatile private var kernelSink = 0L

  /** A fixed pure-JVM kernel: sort 2^20 seeded longs. */
  private def kernel(): Double = {
    val t0 = System.nanoTime()
    val r = new java.util.SplittableRandom(20261017L)
    val a = Array.fill(1 << 20)(r.nextLong())
    java.util.Arrays.sort(a)
    kernelSink = a(a.length / 2)
    (System.nanoTime() - t0) / 1e9
  }

  /** Old-generation occupancy after full collections, in MB. Spark's
    * ContextCleaner frees blocks only once a collection has shown their
    * owners unreachable, so the first reading can be twice the live set;
    * collect until the reading stops falling.
    */
  private def oldGenAfterGcMb(): Double = {
    def collect() = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    var last = Double.MaxValue; var now = collect(); var n = 1
    while (n < 6 && now < last - 1) { last = now; Thread.sleep(150); now = collect(); n += 1 }
    now
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // -- traced run: per-layer metrics and spans ---------------------------

  private def layers(c: Conf, names: Seq[String], passes: Seq[PassRun],
      ledger: Seq[Memo.ArtifactLedgerRow], maes: Seq[Double], attempted: Int,
      failed: Int, sentinels: Seq[(String, Double, Double)]): Seq[(String, Double)] = {
    def med(f: PassRun => Double) = median(passes.map(f))
    def sumOps(f: OpRun => Double)(p: PassRun) = p.ops.map(f).sum
    def active(o: OpRun) = Tracer.activeSeconds(o.jobs, o.startMs, o.endMs)
    def groupActive(g: String)(o: OpRun) =
      Tracer.activeSeconds(o.jobs.filter(_.group == g), o.startMs, o.endMs)
    def tot(p: PassRun) = p.ops.map(_.totals).foldLeft(Totals())(_ + _)
    val built = ledger.filterNot(_.reused)
    val allOps = Workloads.values.flatten.filter(_ != "pipeline").toSeq.sorted
    val perOp = allOps.flatMap { op =>
      val runs = passes.flatMap(_.ops.filter(_.op == op))
      Seq(s"$op.build_s" -> median(runs.map(_.buildS)),
        s"$op.action_s" -> median(runs.map(_.actionS)),
        s"$op.jobs" -> median(runs.map(_.totals.jobs.toDouble)))
    }
    val unsteady = unsteadyCounters(names, passes)
    Seq(
      "operators.build_s" -> med(sumOps(_.buildS)),
      "exec.action_s" -> med(sumOps(_.actionS)),
      "scheduler.jobs" -> med(tot(_).jobs.toDouble),
      "scheduler.stages" -> med(tot(_).stages.toDouble),
      "scheduler.tasks" -> med(tot(_).tasks.toDouble),
      "scheduler.job_active_s" -> med(sumOps(active)),
      "scheduler.driver_gap_s" -> med(sumOps(o => o.wallS - active(o))),
      "scheduler.unsteady_counters" -> unsteady.size.toDouble,
      "tasks.run_s" -> med(tot(_).runMs / 1e3),
      "tasks.cpu_s" -> med(tot(_).cpuNs / 1e9),
      "tasks.gc_s" -> med(tot(_).gcMs / 1e3),
      "tasks.core_busy_ratio" -> med(p => tot(p).runMs / 1e3 /
        (sumOps(active)(p) * c.cores).max(1e-9)),
      "sources.scan_bytes" -> med(tot(_).scanBytes.toDouble),
      "exchange.shuffle_write_bytes" -> med(tot(_).shuffleWrite.toDouble),
      "exchange.shuffle_read_bytes" -> med(tot(_).shuffleRead.toDouble),
      "exchange.spill_bytes" -> med(tot(_).spill.toDouble),
      "plans.planning_s" -> med(tot(_).planningMs / 1e3),
      "memo.builds" -> built.size.toDouble,
      "memo.bytes" -> built.map(_.bytes).sum.toDouble,
      "memo.build_s" -> built.map(_.buildWriteS).sum,
      "ml.fit_job_s" -> med(sumOps(groupActive("fit"))),
      "ml.sink_job_s" -> med(sumOps(groupActive("sink"))),
      "ml.other_job_s" -> med(sumOps(groupActive("other"))),
      "ml.unattributed_job_s" -> med(sumOps(groupActive("unattributed"))),
      "ml.mae" -> median(maes),
      "trace.pass_s" -> med(_.wallS),
      "trace.pass_samples" -> passes.size.toDouble,
      "ops.fail_ratio" -> failed.toDouble / attempted.max(1),
      "env.kernel_s" -> median(sentinels.map(_._2)),
      "env.query_s" -> median(sentinels.map(_._3)),
    ) ++ perOp
  }

  /** The per-op counters that do not repeat exactly from pass to pass. */
  private def unsteadyCounters(names: Seq[String], passes: Seq[PassRun]): Seq[String] =
    names.flatMap { op =>
      val series = passes.map(_.ops.find(_.op == op).get.totals.deterministic)
      series.head.indices.filter(i => series.map(_(i)._2).distinct.size > 1)
        .map(i => s"$op.${series.head(i)._1}")
    }

  /** One span per pass and per op, build/action children, and each Spark
    * job under the child its start falls in.
    */
  private def writeSpans(path: String, passes: Seq[PassRun]): Unit = {
    val arr = json.createArrayNode()
    var id = 0
    def span(parent: Int, name: String, start: Long, end: Long): Int = {
      id += 1
      val o = arr.addObject(); o.put("id", id); o.put("parent", parent)
      o.put("name", name); o.put("start_ms", start); o.put("end_ms", end); id
    }
    passes.zipWithIndex.foreach { case (p, i) =>
      val ps = span(0, s"pass $i", p.startMs, p.endMs)
      p.ops.foreach { o =>
        val os = span(ps, o.op, o.startMs, o.endMs)
        val b = span(os, "build", o.startMs, o.buildEndMs)
        val a = span(os, "action", o.buildEndMs, o.endMs)
        o.jobs.foreach(j => span(if (j.startMs < o.buildEndMs) b else a,
          s"job ${j.id} ${j.group}", j.startMs, j.endMs))
      }
    }
    Files.writeString(Paths.get(path), json.writeValueAsString(arr))
  }
}
