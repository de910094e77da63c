package graft.tick

import graft.tick.FluxTasks.{Run, RunLog, Task, TaskFilter}
import graft.sources.Replay.rfc3339Nano
import graft.tick.TickJson._

/** The flux-task HTTP API's wire documents (reference
  * `task/http/task_service.go` — the `/kapacitor/v1/api/v2/tasks` surface
  * the 1.6+ task system exposes), rendered byte-exactly as Go's
  * `json.NewEncoder(w).Encode(...)` emits them (compact, HTML-escaped;
  * the Encoder's trailing `\n` is left to the transport):
  *
  *  - `taskDoc` — `taskResponse` (:180-189, :321-334): links map (sorted
  *    keys), the Kapacitor-unsupported `labels` field marshaled from its
  *    nil slice as `null`, then the embedded front-end Task in struct
  *    order with `NewFrontEndTask`'s zero-time / zero-offset elisions
  *    (:204-241) and `customParseDuration`'s h/m/s offset rendering
  *    (:287-320 — early-returns on whole hours/minutes, drops sub-second
  *    remainders, `""` for zero);
  *  - `runDoc` — `runResponse`/`httpRun` (:384-433): `scheduledFor`
  *    always present (a pointer to the value), started/finished/requested
  *    only when non-zero, run logs in `{runID, time, message}` order;
  *  - `tasksDoc` — `tasksResponse` (:368-381) with the influxdb-v2
  *    `PagingLinks` shape (prev omitted-when-empty, self, next): self is
  *    the base path plus `url.Values.Encode()` of `TaskFilter
  *    .QueryParams()` (taskmodel/task.go:413-428 — ONLY after/username/
  *    limit; name/status filters are deliberately not round-tripped into
  *    the links, a faithful quirk), next re-encodes with `after` set to
  *    the page's last id when the page is full;
  *  - `runsDoc` (:461-479) and `logsDoc` (:851-853).
  *
  * Times are RFC3339 at the second precision of [[FluxTasks]]' model;
  * ids render as platform.ID 16-hex-digit strings.
  */
object FluxTaskJson {

  /** task/http/task_service.go:39-41. */
  val tasksBasePath = "/kapacitor/v1/api/v2/tasks"

  /** platform.ID.String(): 16 zero-padded hex digits. */
  def idStr(id: Long): String = f"$id%016x"

  /** `customParseDuration` (:287-320): hours/minutes/seconds fold with
    * the reference's early returns — `""` for zero, `-` prefix, whole
    * hours stop at `h`, whole minutes at `m`, sub-second remainders
    * silently dropped. */
  def customParseDuration(nanos: Long): String = {
    val sb = new StringBuilder
    var d = nanos
    if (d < 0) { sb += '-'; d = -d }
    val H = 3600L * 1000000000L
    val M = 60L * 1000000000L
    val S = 1000000000L
    val hours = d / H
    if (hours != 0) sb ++= s"${hours}h"
    if (d % H == 0) return sb.toString
    d -= hours * H
    val min = d / M
    if (min != 0) sb ++= s"${min}m"
    if (d % M == 0) return sb.toString
    d -= min * M
    val sec = d / S
    if (sec != 0) sb ++= s"${sec}s"
    sb.toString
  }

  /** The embedded front-end Task fields in struct order, with the
    * omitempty elisions. `ownerId` maps OwnerUsername (the field is
    * misleadingly json-tagged `ownerID`); `orgId` is the reference's
    * permanently-empty UnusedOrgId, emitted unconditionally. */
  private def taskFields(t: Task, owner: String, description: String,
      metadata: Seq[(String, JV)]): Seq[(String, JV)] = {
    val fs = Seq.newBuilder[(String, JV)]
    fs += "id" -> JStr(idStr(t.id))
    fs += "ownerID" -> JStr(owner)
    fs += "orgID" -> JStr("")
    fs += "name" -> JStr(t.name)
    if (description.nonEmpty) fs += "description" -> JStr(description)
    fs += "status" -> JStr(t.status)
    fs += "flux" -> JStr(t.flux)
    if (t.every.nonEmpty) fs += "every" -> JStr(t.every)
    if (t.cron.nonEmpty) fs += "cron" -> JStr(t.cron)
    if (t.offsetS != 0)
      fs += "offset" -> JStr(customParseDuration(t.offsetS * 1000000000L))
    if (t.latestCompletedS != 0)
      fs += "latestCompleted" -> JStr(rfc3339Nano(t.latestCompletedS * 1000000000L))
    if (t.lastRunStatus.nonEmpty) fs += "lastRunStatus" -> JStr(t.lastRunStatus)
    if (t.lastRunError.nonEmpty) fs += "lastRunError" -> JStr(t.lastRunError)
    if (t.createdAtS != 0) fs += "createdAt" -> JStr(rfc3339Nano(t.createdAtS * 1000000000L))
    if (t.updatedAtS != 0) fs += "updatedAt" -> JStr(rfc3339Nano(t.updatedAtS * 1000000000L))
    if (metadata.nonEmpty) fs += "metadata" -> sortedObj(metadata)
    fs.result()
  }

  /** One task GET/POST response document. */
  def taskDoc(t: Task, owner: String = "", description: String = "",
      metadata: Seq[(String, JV)] = Nil): String = {
    val id = idStr(t.id)
    writeCompact(JObj(Seq(
      "links" -> sortedObj(Seq(
        "self" -> JStr(s"$tasksBasePath/$id"),
        "runs" -> JStr(s"$tasksBasePath/$id/runs"),
        "logs" -> JStr(s"$tasksBasePath/$id/logs"))),
      "labels" -> JNull) ++
      taskFields(t, owner, description, metadata)))
  }

  /** `url.Values.Encode()`: keys sorted, values percent-encoded with
    * space as `+` (Go QueryEscape). */
  private def encodeValues(vs: Seq[(String, String)]): String =
    vs.sortBy(_._1).map { case (k, v) =>
      val enc = java.net.URLEncoder.encode(v, "UTF-8")
      s"${java.net.URLEncoder.encode(k, "UTF-8")}=$enc"
    }.mkString("&")

  private def withQuery(params: Seq[(String, String)]): String =
    if (params.isEmpty) tasksBasePath
    else s"$tasksBasePath?${encodeValues(params)}"

  /** The list response: PagingLinks + one taskResponse per task. `limit`
    * must carry the decode-applied default (100) like the handler's
    * filter does; `username` is the filter's owner param (QueryParams'
    * only other emitted key). */
  def tasksDoc(tasks: Seq[Task], filter: TaskFilter,
      username: Option[String] = None,
      owner: Task => String = _ => "",
      description: Task => String = _ => "",
      metadata: Task => Seq[(String, JV)] = _ => Nil): String = {
    require(filter.limit > 0, "list responses carry the decoded limit (default 100)")
    val base = filter.after.map(a => "after" -> idStr(a)).toSeq ++
      username.map("username" -> _).toSeq :+ ("limit" -> filter.limit.toString)
    val self = withQuery(base)
    val links = Seq.newBuilder[(String, JV)]
    links += "self" -> JStr(self)
    if (tasks.size >= filter.limit) {
      val next = base.filter(_._1 != "after") :+
        ("after" -> idStr(tasks(filter.limit - 1).id))
      links += "next" -> JStr(withQuery(next))
    }
    val docs = tasks.map { t =>
      val id = idStr(t.id)
      JObj(Seq(
        "links" -> sortedObj(Seq(
          "self" -> JStr(s"$tasksBasePath/$id"),
          "runs" -> JStr(s"$tasksBasePath/$id/runs"),
          "logs" -> JStr(s"$tasksBasePath/$id/logs"))),
        "labels" -> JNull) ++
        taskFields(t, owner(t), description(t), metadata(t)))
    }
    writeCompact(JObj(Seq(
      "links" -> JObj(links.result()),
      "tasks" -> JArr(docs))))
  }

  /** One taskmodel.Log; also the element of the recorded run-log array
    * ([[FluxRunStorage.logsJson]]). */
  private[tick] def logJson(l: RunLog): JV = {
    val fs = Seq.newBuilder[(String, JV)]
    if (l.runId != 0) fs += "runID" -> JStr(idStr(l.runId))
    fs += "time" -> JStr(rfc3339Nano(l.timeS * 1000000000L))
    fs += "message" -> JStr(l.message)
    JObj(fs.result())
  }

  private def runJson(r: Run): JObj = {
    val tid = idStr(r.taskId)
    val rid = idStr(r.id)
    val fs = Seq.newBuilder[(String, JV)]
    fs += "links" -> sortedObj(Seq(
      "self" -> JStr(s"$tasksBasePath/$tid/runs/$rid"),
      "task" -> JStr(s"$tasksBasePath/$tid"),
      "logs" -> JStr(s"$tasksBasePath/$tid/runs/$rid/logs"),
      "retry" -> JStr(s"$tasksBasePath/$tid/runs/$rid/retry")))
    if (r.id != 0) fs += "id" -> JStr(rid)
    fs += "taskID" -> JStr(tid)
    fs += "status" -> JStr(r.status)
    fs += "scheduledFor" -> JStr(rfc3339Nano(r.scheduledForS * 1000000000L)) // pointer: always
    r.startedAtS.foreach(t => fs += "startedAt" -> JStr(rfc3339Nano(t * 1000000000L)))
    r.finishedAtS.foreach(t => fs += "finishedAt" -> JStr(rfc3339Nano(t * 1000000000L)))
    r.requestedAtS.foreach(t => fs += "requestedAt" -> JStr(rfc3339Nano(t * 1000000000L)))
    if (r.logs.nonEmpty) fs += "log" -> JArr(r.logs.map(logJson))
    JObj(fs.result())
  }

  /** One run GET/retry response document. */
  def runDoc(r: Run): String = writeCompact(runJson(r))

  /** The run-list response (`runsResponse`, :461-479): links + runs
    * (an empty page is `[]`, never `null` — the slice is make()'d). */
  def runsDoc(runs: Seq[Run], taskId: Long): String = {
    val tid = idStr(taskId)
    writeCompact(JObj(Seq(
      "links" -> sortedObj(Seq(
        "self" -> JStr(s"$tasksBasePath/$tid/runs"),
        "task" -> JStr(s"$tasksBasePath/$tid"))),
      "runs" -> JArr(runs.map(runJson)))))
  }

  /** The log-list response (`getLogsResponse`, :851-853). A nil slice
    * marshals `null`, matching the handler when a task has no logs. */
  def logsDoc(events: Seq[RunLog]): String =
    writeCompact(JObj(Seq(
      "events" -> (if (events.isEmpty) JNull else JArr(events.map(logJson))))))
}
