package graft

/** Benchmark harness: one JSON line of per-query wall-clock seconds.
  *
  * Measurement protocol (round 6 — "bench hygiene"):
  *   1. Session warmup: run the flagship entry + touch every fixture
  *      table so the first measured query doesn't absorb JVM/codegen/
  *      filesystem init (~4-5 s observed on the round-1 first query).
  *   2. Memo warmup: run each query that BUILDS a per-(context,dir)
  *      memoized artifact (ALS fit, tokenized corpus, MinHash signature
  *      groups, SimHash fingerprints + pair table, dedup clusters,
  *      IVF/PQ indexes, dirty/JSONL/ORC ingest caches) once, untimed.
  *      Rounds 2-5 charged those builds to whichever query ran first in
  *      alphabetical order, which made untouched queries swing 3-9x
  *      round-over-round (VERDICT_r05: q36 3.0->10.8, q45 1.1->9.1,
  *      q48 1.6->9.4 with zero code change).
  *   3. Timed phase: each query runs REPS (default 3) times; the
  *      reported value is the MEDIAN. spark.catalog.clearCache() runs
  *      between reps (outside the timed window) so every rep measures
  *      the same cold-SQL-cache work; memoized artifacts survive
  *      clearCache by design (parquet artifacts on disk, plus the few
  *      in-context memos), so memo reuse — the steady-state a
  *      long-lived cluster session would see — is what's measured.
  *
  * Round 15 — the r14 in-suite-interference fix: the shared table
  * memos (tokenized corpus, fingerprints, pair/CC tables, tf-idf,
  * IVF/PQ) are now PARQUET ARTIFACTS ([[Memo.artifact]]), not
  * localCheckpoint block residents, so the 339-query suite no longer
  * accumulates executor-memory blocks that distorted mid-suite
  * readings up to 14× (r14 adjudication: q09 9.37 s in-suite vs
  * 0.65 s isolated). Each bench run builds its artifacts in a fresh
  * per-JVM temp root (see [[Memo.artifactRoot]]), keeping the
  * memo-warmup phase an honest first-build measurement.
  */
object Bench {
  /** Queries whose first invocation builds a memoized artifact shared by
    * a family (see [[Memo]]). Kept in sync with the getOrElseUpdate
    * sites in Dedup/Advanced/Recommender/Ingest.
    */
  private val memoBuilders = Seq(
    "q36_als_recommender",      // ml.Recommender.modelCache (serves q36/q37/q38)
    "q40_token_stats",          // "tokenized" artifact via TextOps
    "q45_dedup_minhash_lsh",    // "minhash_groups" + "minhash_pairs" artifacts
    "q46_simhash_fingerprint",  // "simhash" artifact
    "q47_simhash_near_dup",     // "simhash_pairs" artifact
    "q73_dedup_clusters",       // "cc_labels" artifact
    "q63_ann_ivf_kmeans",       // "ivf_cells"/"ivf_centroids" artifacts
    "q108_pq_ann",              // "pq_codes"/"pq_codebook" artifacts
    "q197_tfidf_cosine_pairs",  // "tfidf_weights"/"tfidf_vecs" artifacts (serve q197/q322)
    "q152_pagerank",            // Graph.edgeCache (co-rating edges; serves q138/q152/q154/q158)
    "q138_triangle_count",      // "co_rating_triangles" artifact (serves q158)
    "q92_dirty_ingest",         // Ingest.dirtyPathCache + parsedCache
    "q105_json_dirty_accounting", // Ingest.jsonlPathCache
    "q123_orc_roundtrip",       // Ingest.orcPathCache
    "q205_schema_evolution",    // Ingest.evoPathCache (staged generations)
    "q213_evolution_stream_join", // Ingest.evoEventsPathCache (staged event generations)
    "q214_dynamic_partition_pruning" // "lineitem_by_ship_month" layout artifact
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession.builder(cpus.toInt)
      // artifact-write codec A/B knob (r15 VERDICT #7): default snappy
      // (Spark's default); zstd trades write CPU for bytes — measured
      // for the sf3 pair-table artifact in BUILDLOG r16
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --- phase 1: session + table warmup ---
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables.named(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // --- phase 2: memo warmup (untimed in "queries"; builds shared
    // artifacts). Per-memo wall-clock is REPORTED in "memos" so the
    // steady-state protocol doesn't hide the build cost round-over-round
    // (VERDICT r6 #7) — each number is that query's first invocation
    // INCLUDING its artifact build.
    // SPARK_GRAFT_MEMO_ONLY: comma-separated qNN prefixes restricting the
    // memo-warmup phase (targeted stress runs — e.g. the sf3 ledger —
    // shouldn't pay every family's artifact build to measure one family)
    val memoOnly = sys.env.get("SPARK_GRAFT_MEMO_ONLY")
      .map(_.split(',').toSet)
    val memoTimes = memoBuilders
      .filter(n => memoOnly.forall(_.exists(n.startsWith)))
      .flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name FAILED: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    spark.catalog.clearCache()
    // --- phase 3: timed, median of REPS ---
    // optional arg: comma-separated query names (fast local iteration;
    // the driver passes none and measures the full suite)
    val only = args.headOption.map(_.split(',').toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // outside the timed window
        // NB: forcing System.gc() here was tried (round 3) and REJECTED:
        // it tightened run-to-run variance slightly but cost ~8% total —
        // full GCs evict JIT/code-cache state the next query then rebuilds
        if (ok) Some(elapsed) else None
      }
      val median =
        if (times.isEmpty) -1.0 // -1 marks a failed query, visibly
        else times.sorted.apply(times.size / 2)
      name -> median
    }
    // Keep the ONE output line compact enough for the driver's finite
    // stdout-tail window (round 1's ~2.9 KB full-precision/full-name
    // line failed to parse): 3-decimal values, and query keys shortened
    // to their unique qNN prefix (full names are in CORRECTNESS/PLANS)
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def shortName(k: String): String = k.takeWhile(_ != '_')
    val qs = results.map { case (k, v) => s"\"" + shortName(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val ms = memoTimes.map { case (k, v) => s"\"" + shortName(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // artifact-footprint ledger (r15 VERDICT #3/#6): per artifact, file
    // count + bytes on disk + fused build-and-write seconds (r = 1
    // marks a cross-run reuse, i.e. the warm path: no job ran). This is
    // the attribution lens the memo map alone lacks — a memo-seconds
    // regression with flat bytes is compute, with grown bytes is I/O.
    val arts = graft.Memo.ledger.map { r =>
      s"\"${r.name}\":{\"f\":${r.files},\"b\":${r.bytes}," +
        s"\"s\":${fmt(r.buildWriteS)},\"r\":${if (r.reused) 1 else 0}}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a failed query records -1.0 in the map; n_failed makes a dead
    // bench SELF-ANNOUNCING (the r11 incident: 147 silent -1.0s needed
    // a human reading the map to notice)
    val nFailed = results.count(_._2 < 0)
    spark.stop()
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"queries":$qs,"memos":$ms,"artifacts":$arts,"sf":"$sfDir"}"""
    println(line)
    // The driver captures a finite stdout tail, which truncates the
    // per-query map once the suite is large (BENCH_r10 held 136 of 255
    // timings) — also persist the complete line to a file so
    // round-over-round comparison always has the full map.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
  }
}
