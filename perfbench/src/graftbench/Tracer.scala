package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.Bus

/** Cumulative scheduler, task and planning counters. */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    scanBytes: Long = 0, planningMs: Long = 0) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, scanBytes - o.scanBytes, planningMs - o.planningMs)
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, scanBytes + o.scanBytes, planningMs + o.planningMs)
  /** The counters that should repeat exactly when the same op list runs again. */
  def deterministic: Seq[(String, Long)] = Seq("jobs" -> jobs,
    "stages" -> stages, "tasks" -> tasks, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "scan_bytes" -> scanBytes)
}

/** One finished Spark job: its wall interval (epoch ms) and the group its
  * call site falls in (see [[Tracer.group]]).
  */
final case class JobRec(id: Int, startMs: Long, endMs: Long, group: String)

/** Listener attached from outside the engine. It hears every session on
  * the context, including the ones the engine opens with `newSession()`.
  * Every callback runs on the listener bus thread; readers call
  * [[org.apache.spark.sql.graftbench.Bus.drain]] first and then take a
  * [[mark]] or read [[since]].
  */
final class Tracer extends SparkListener {
  private var totals = Totals()
  private val open = mutable.Map.empty[Int, (Long, String)]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    open(e.jobId) = (e.time, Tracer.group(details))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, g) => done += JobRec(e.jobId, start, e.time, g) }
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals = totals.copy(stages = totals.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    totals =
      if (m == null) totals.copy(tasks = totals.tasks + 1)
      else totals + Totals(tasks = 1, runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.diskBytesSpilled, scanBytes = m.inputMetrics.bytesRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      totals = totals.copy(planningMs = totals.planningMs + Bus.planningMs(end))
    }
    case _ =>
  }

  /** A point to diff against: the counters and the finished-job count. */
  def mark(): (Totals, Int) = synchronized((totals, done.size))
  def since(m: (Totals, Int)): (Totals, Seq[JobRec]) =
    synchronized((totals - m._1, done.drop(m._2).toList))
}

object Tracer {
  private val GraftFrame = "(^|/)graft\\.".r

  /** Groups a job by its call site (the stage `details`, one frame per
    * line): `fit` if an `org.apache.spark.ml` frame runs above the first
    * `graft.` frame, `sink` if that frame writes the predictions TSV,
    * `other` for any other `graft.` frame, and `unattributed` when no
    * `graft.` frame is present (broadcasts run on pool threads).
    */
  def group(details: String): String = {
    val lines = details.split("\n").map(_.trim)
    val i = lines.indexWhere(l => GraftFrame.findFirstIn(l).isDefined)
    if (i < 0) "unattributed"
    else if (lines.take(i).exists(_.contains("org.apache.spark.ml."))) "fit"
    else if (lines(i).contains("writePredictionsTsv")) "sink"
    else "other"
  }

  /** Length of the union of the job intervals, clipped to [from, to], in seconds. */
  def activeSeconds(jobs: Seq[JobRec], from: Long, to: Long): Double = {
    var covered = 0L; var reach = from
    for (j <- jobs.sortBy(_.startMs)) {
      val s = math.max(j.startMs, reach); val e = math.min(j.endMs, to)
      if (e > s) { covered += e - s; reach = e }
    }
    covered / 1000.0
  }
}
