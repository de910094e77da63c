package graft.tick

import graft.sources.{LineProtocol, Replay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flux-task run HISTORY as data — the analytical run storage of
  * `task/backend/run_recorder.go` + `task/backend/analytical_storage.go`:
  * every finished run is recorded as a POINT (measurement `runs` in the
  * `kapacitor_fluxtask_logs` bucket by default, task/config.go:45-52) and
  * run queries combine the live kv runs with the recorded history.
  *
  * The point shape is run_recorder.go:30-76 exactly — tags
  * `{status, taskID}`, string fields `runID` / `startedAt` (RFC3339Nano)
  * / `finishedAt` (RFC3339Nano) / `scheduledFor` (RFC3339) /
  * `requestedAt` (RFC3339) / `logs` (the JSON-marshaled log array),
  * point time = startedAt — expressed as a [[LineProtocol.LinePoint]],
  * so recorded history rides every existing sink: line-protocol out,
  * `.srpl` recordings ([[Replay.writeSrpl]]), parquet via
  * [[LineProtocol.toPointFrame]].
  *
  * [[AnalyticalStore.findRuns]] is analytical_storage.go:194-308: live
  * runs first, then the recorded history for the task (newest
  * scheduledFor first) up to the limit, de-duplicating live runs that
  * have since completed (combineRuns:290). The flux-script part of the
  * reference (range/filter/pivot/sort/limit) is [[runsFrame]] +
  * [[findRunsFrame]] on the Spark side — the history is a DataFrame, so
  * the 7-day retention scan becomes a partition-pruned parquet read at
  * scale instead of a Flux query.
  */
object FluxRunStorage {

  val DefaultMeasurement = "runs"
  val DefaultBucket = "kapacitor_fluxtask_logs"

  private[tick] def idParse(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)

  /** taskmodel.Log array JSON (json.Marshal field order/omitempty). */
  private[tick] def logsJson(logs: Seq[FluxTasks.RunLog]): String =
    TickJson.writeCompact(TickJson.JArr(logs.map(FluxTaskJson.logJson)))

  /** run_recorder.go:30-76 Record — one point per finished run. Times
    * render at the reference's field precisions (Nano for started/
    * finished, RFC3339 for scheduledFor/requestedAt); zero times render
    * as Go's zero time. */
  def recordPoint(
      run: FluxTasks.Run,
      measurement: String = DefaultMeasurement): LineProtocol.LinePoint = {
    def t(o: Option[Long]): String =
      Replay.rfc3339Nano(o.fold(Replay.GoZeroTimeNs)(_ * 1000000000L))
    LineProtocol.LinePoint(
      measurement = measurement,
      tags = Map("status" -> run.status, "taskID" -> FluxTaskJson.idStr(run.taskId)),
      fieldsFloat = Map.empty,
      fieldsInt = Map.empty,
      fieldsBool = Map.empty,
      fieldsStr = Map(
        "runID" -> FluxTaskJson.idStr(run.id),
        "startedAt" -> t(run.startedAtS),
        "finishedAt" -> t(run.finishedAtS),
        "scheduledFor" -> Replay.rfc3339Nano(run.scheduledForS * 1000000000L),
        "requestedAt" -> t(run.requestedAtS),
        "logs" -> logsJson(run.logs)),
      timeNs = run.startedAtS.getOrElse(0L) * 1000000000L)
  }

  /** The runReader parse (analytical_storage.go:399-475): a recorded
    * point back into a Run. Log entries round-trip; sub-second precision
    * follows the field formats. */
  def readRun(p: LineProtocol.LinePoint): FluxTasks.Run = {
    def parseT(s: String): Option[Long] =
      if (s.isEmpty || s == "0001-01-01T00:00:00Z") None
      else Some(java.time.OffsetDateTime.parse(s).toEpochSecond)
    val logs = parseLogs(p.fieldsStr.getOrElse("logs", "[]"))
    FluxTasks.Run(
      id = idParse(p.fieldsStr("runID")),
      taskId = idParse(p.tags("taskID")),
      status = p.tags("status"),
      scheduledForS = parseT(p.fieldsStr("scheduledFor")).getOrElse(0L),
      runAtS = 0L, // not recorded, exactly as the reference's reader
      startedAtS = parseT(p.fieldsStr("startedAt")),
      finishedAtS = parseT(p.fieldsStr("finishedAt")),
      requestedAtS = parseT(p.fieldsStr.getOrElse("requestedAt", "")),
      logs = logs)
  }

  private def parseLogs(json: String): Vector[FluxTasks.RunLog] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    if (root == null || !root.isArray) Vector.empty
    else (0 until root.size).map { i =>
      val n = root.get(i)
      FluxTasks.RunLog(
        runId = Option(n.get("runID")).map(v => idParse(v.asText)).getOrElse(0L),
        timeS = java.time.OffsetDateTime.parse(n.get("time").asText).toEpochSecond,
        message = n.get("message").asText)
    }.toVector
  }

  /** AnalyticalStorage (analytical_storage.go:129-160): wraps a
    * [[FluxTasks.FluxTaskService]] so FinishRun also records the run. */
  final class AnalyticalStore(
      val service: FluxTasks.FluxTaskService,
      measurement: String = DefaultMeasurement) {
    private val recorded = scala.collection.mutable.ArrayBuffer[LineProtocol.LinePoint]()

    /** The Record hook — pass as FluxTaskSystem/FluxExecutor's
      * `onRunFinished` to record every finished run. */
    def record(run: FluxTasks.Run): Unit =
      recorded += recordPoint(run, measurement)

    def finishRun(taskId: Long, runId: Long): FluxTasks.Run = {
      val r = service.finishRun(taskId, runId)
      record(r)
      r
    }

    /** The recorded history as points (feed to sinks / parquet). */
    def points: Seq[LineProtocol.LinePoint] = recorded.toSeq

    /** analytical_storage.go:194-308 FindRuns: the kv runs (manual
      * queue + running set, via the service's filter laws) first, then
      * recorded history for the task sorted scheduledFor-desc, limited;
      * completed runs shadow their stale live entries (combineRuns).
      * Time bounds are strict (after, before); unlike the kv default,
      * `before` here defaults to unbounded — the analytical side's
      * window is the store's retention, not the wall clock. */
    def findRuns(
        taskId: Long,
        limit: Int = 100,
        afterTimeS: Option[Long] = None,
        beforeTimeS: Option[Long] = None): Seq[FluxTasks.Run] = {
      require(limit > 0 && limit <= 500, "limit out of bounds") // taskmodel page laws
      val filter = FluxTasks.RunFilter(afterTimeS,
        Some(beforeTimeS.getOrElse(Long.MaxValue)), limit)
      val current = service.findRuns(taskId, filter)
      if (current.length >= limit) return current
      val before = beforeTimeS.getOrElse(Long.MaxValue)
      val after = afterTimeS.getOrElse(Long.MinValue)
      val history = recorded.toSeq
        .filter(p => p.measurement == measurement &&
          p.tags.get("taskID").contains(FluxTaskJson.idStr(taskId)))
        .map(readRun)
        .filter(r => r.scheduledForS > after && r.scheduledForS < before)
        .sortBy(-_.scheduledForS)
        .take(limit - current.length)
      val completedIds = history.map(_.id).toSet
      current.filterNot(r => completedIds.contains(r.id)) ++ history
    }
  }

  /** The recorded history as a DataFrame (the bucket, as data). */
  def runsFrame(spark: SparkSession, points: Seq[LineProtocol.LinePoint]): DataFrame = {
    import spark.implicits._
    LineProtocol.toPointFrame(points.toDS())
  }

  /** The reference's FindRuns flux script as a DataFrame query
    * (analytical_storage.go:251-263): filter measurement + taskID, sort
    * scheduledFor desc, limit — pivot is a no-op here because the frame
    * is already columnar. */
  def findRunsFrame(history: DataFrame, taskId: Long, limit: Int = 100): DataFrame =
    history
      .filter(col("measurement") === DefaultMeasurement &&
        element_at(col("tags"), "taskID") === FluxTaskJson.idStr(taskId))
      .select(
        element_at(col("fieldsStr"), "runID").as("run_id"),
        element_at(col("tags"), "taskID").as("task_id"),
        element_at(col("tags"), "status").as("status"),
        element_at(col("fieldsStr"), "scheduledFor").as("scheduled_for"),
        element_at(col("fieldsStr"), "startedAt").as("started_at"),
        element_at(col("fieldsStr"), "finishedAt").as("finished_at"),
        element_at(col("fieldsStr"), "logs").as("logs"))
      .orderBy(desc("scheduled_for"))
      .limit(limit)
}
