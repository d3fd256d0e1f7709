package graft

import org.apache.spark.sql.functions._

/** Scratch instrumentation main for the optimization round: times the
  * phases of one query in isolation (not part of the driver contract).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // deterministic work counters: jobs / stages / tasks / summed task time
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          if (sys.env.contains("GRAFT_STAGE_DEBUG")) {
            val si = e.stageInfo
            val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
            println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%3d wall=${ms}%5d ms  ${si.name.take(90)}")
          }
        }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
        }
      })
    def t[A](label: String)(f: => A): A = {
      val (j0, s0, k0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
      val t0 = System.nanoTime(); val r = f
      Thread.sleep(150) // let the listener bus drain
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  jobs=${jobs.get - j0}%3d stages=${stages.get - s0}%3d tasks=${tasks.get - k0}%5d taskTime=${(taskMs.get - m0) / 1e3}%8.2f s")
      r
    }
    // warm the session like Bench does
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    graft.sources.Tables.names.foreach { n =>
      try graft.sources.Tables(spark, dir, n).count() catch { case _: Throwable => () }
    }
    for (rep <- 1 to 2) {
      for (q <- Seq("q236_association_rules", "q334_drift_stream_replay",
          "q322_similarity_join", "q256_incremental_clustering")) {
        t(s"rep$rep $q") { SparkEntry.queries(q)(spark, dir).count() }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
