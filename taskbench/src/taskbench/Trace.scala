package taskbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job, stage and task accounting from the listener bus for the traced run.
  *
  * Jobs are attributed to an op by the local properties the harness sets
  * before each phase ([[Tracer.OpKey]], [[Tracer.PhaseKey]]), or, for
  * micro-batches, by the `streaming.sql.batchId` property Structured
  * Streaming sets itself. Records stay in memory until the run ends.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new Job(e.jobId, prop(OpKey).getOrElse(""), prop(PhaseKey).getOrElse(""),
      prop(BatchKey).map(_.toLong).getOrElse(-1L), e.time)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(s)).jobId = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.ran = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    for (s <- stages.get(e.stageId); j <- jobs.get(s.jobId))
      j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs of one op (by tag) or of a set of micro-batches (by batch id). */
  def jobsOf(op: String): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toSeq)
  def jobsOfBatches(ids: Set[Long]): Seq[Job] =
    synchronized(jobs.values.filter(j => ids.contains(j.batchId)).toSeq)

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => s.ran && ids.contains(s.jobId)).toSeq.sortBy(_.id)
  }

  /** Layer totals for a set of jobs: scheduler, executor and shuffle. */
  def layers(js: Seq[Job]): Layers = {
    val ss = stagesOf(js)
    val delays = js.filter(_.firstLaunchMs != Long.MaxValue).map(j => (j.firstLaunchMs - j.submitMs).toDouble)
    Layers(
      jobs = js.size, tasks = ss.map(_.tasks).sum,
      delayMs = if (delays.isEmpty) 0.0 else delays.sum / delays.size,
      taskMs = ss.map(_.taskMs).sum.toDouble,
      shuffleWriteMb = ss.map(_.shuffleWriteBytes).sum / 1048576.0,
      spillMb = ss.map(_.spillBytes).sum / 1048576.0)
  }

  /** Span tree of jobs and their stages, with times relative to `originMs`. */
  def jobSpans(js: Seq[Job], originMs: Long): Seq[Map[String, Any]] = {
    val ss = stagesOf(js).groupBy(_.jobId)
    js.sortBy(_.id).map { j =>
      Map[String, Any](
        "name" -> s"job ${j.id}", "start_ms" -> (j.submitMs - originMs),
        "dur_ms" -> (j.endMs - j.submitMs),
        "delay_ms" -> (if (j.firstLaunchMs == Long.MaxValue) null else j.firstLaunchMs - j.submitMs),
        "children" -> ss.getOrElse(j.id, Nil).map { s =>
          Map[String, Any](
            "name" -> s"stage ${s.id}", "start_ms" -> (s.submitMs - originMs),
            "dur_ms" -> (s.endMs - s.submitMs), "tasks" -> s.tasks, "task_ms" -> s.taskMs,
            "shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0,
            "spill_mb" -> s.spillBytes / 1048576.0)
        })
    }
  }
}

object Tracer {
  val OpKey = "taskbench.op"
  val PhaseKey = "taskbench.phase"
  val BatchKey = "streaming.sql.batchId"

  final class Job(val id: Int, val op: String, val phase: String, val batchId: Long,
      val submitMs: Long) {
    var endMs: Long = submitMs
    var firstLaunchMs: Long = Long.MaxValue
  }

  final class Stage(val id: Int) {
    var jobId: Int = -1
    var ran = false
    var submitMs = 0L
    var endMs = 0L
    var tasks = 0
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  final case class Layers(jobs: Int, tasks: Int, delayMs: Double, taskMs: Double,
      shuffleWriteMb: Double, spillMb: Double)

  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Wait until the bus has delivered every event, then detach. */
  def detach(sc: SparkContext, t: Tracer): Unit = {
    org.apache.spark.TaskbenchBus.drain(sc)
    sc.removeSparkListener(t)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
