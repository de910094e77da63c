package graft.tick

import graft.sources.Replay
import org.apache.spark.sql.DataFrame

/** Task lifecycle as a library API — the reference's task_store service
  * (services/task_store/service.go, dao.go:102-140: Task{ID, Type, DBRPs,
  * TICKscript, TemplateID, Vars, Error, Status, Created/Modified/
  * LastEnabled}) minus its two I/O shells: the HTTP handlers and the gob
  * database. Users of `kapacitor define / enable / disable / delete /
  * list` drive the same lifecycle through method calls; persistence is
  * the caller's choice (the definitions are plain case classes).
  *
  * Semantics kept from the reference:
  *  - define VALIDATES the script (parse + template completeness + type
  *    derivation) and rejects duplicate ids (ErrTaskExists,
  *    service.go:680-852 create vs update split — [[redefine]] is the
  *    update path and preserves status);
  *  - a task is `stream` or `batch`, never both (task.go type check);
  *  - templates: a template holds the script, a task instantiates it
  *    with vars (dao.go Template + TemplateID/Vars on Task);
  *  - enable compiles against a bound source and stamps LastEnabled; a
  *    compile failure is RECORDED on the task's Error field and the task
  *    stays disabled (convertTask surfaces Task.Error the same way);
  *  - delete of an unknown id is a no-op like the reference's DELETE.
  *
  * What "enable" means here: the reference starts goroutines; the Spark
  * analog hands back the compiled DataFrame (batch) — for a streaming
  * source the same compile returns the streaming frame the caller starts
  * with writeStream, exactly like every TickScript.compile use.
  */
class TaskRegistry {

  sealed trait Status
  case object Disabled extends Status
  case object Enabled extends Status

  sealed trait TaskType
  case object StreamTask extends TaskType
  case object BatchTask extends TaskType

  case class TaskDef(
      id: String,
      tickscript: String,
      taskType: TaskType,
      dbrps: Seq[(String, String)],
      templateId: Option[String],
      vars: Map[String, Any],
      status: Status,
      error: String,
      createdMs: Long,
      modifiedMs: Long,
      lastEnabledMs: Long)

  case class TemplateDef(id: String, tickscript: String, taskType: TaskType,
      declaredVars: Map[String, String], createdMs: Long)

  private val tasks = scala.collection.mutable.LinkedHashMap.empty[String, TaskDef]
  private val templates = scala.collection.mutable.LinkedHashMap.empty[String, TemplateDef]

  private def deriveType(script: String): TaskType = {
    val parsed = TickScript.parse(script)
    val roots = parsed.chains.map(_.root).filter(r => r == "stream" || r == "batch").distinct
    require(roots.nonEmpty, "script has no stream or batch chain")
    require(roots.size == 1,
      s"task must be a single type, script mixes ${roots.mkString(" and ")}")
    if (roots.head == "stream") StreamTask else BatchTask
  }

  /** Define a new task; fails on duplicate id (the reference's create
    * path) or an invalid script. */
  def define(id: String, script: String,
      vars: Map[String, Any] = Map.empty): TaskDef = synchronized {
    require(!tasks.contains(id), s"task $id already exists")
    val parsed = TickScript.parse(script)
    // same completeness rule as TickScript.compile: every declared
    // template var must be bound at definition
    val missing = parsed.declared.keySet -- vars.keySet
    require(missing.isEmpty, s"unbound template vars: ${missing.mkString(", ")}")
    val now = System.currentTimeMillis()
    val t = TaskDef(id, script, deriveType(script), parsed.dbrps, None, vars,
      Disabled, "", now, now, 0L)
    tasks(id) = t
    t
  }

  /** The reference's update path: new script/vars, status preserved. */
  def redefine(id: String, script: String,
      vars: Map[String, Any] = Map.empty): TaskDef = synchronized {
    val old = tasks.getOrElse(id, throw new NoSuchElementException(s"no task $id"))
    val parsed = TickScript.parse(script)
    val missing = parsed.declared.keySet -- vars.keySet
    require(missing.isEmpty, s"unbound template vars: ${missing.mkString(", ")}")
    val t = old.copy(tickscript = script, taskType = deriveType(script),
      dbrps = parsed.dbrps, vars = vars, error = "",
      modifiedMs = System.currentTimeMillis())
    tasks(id) = t
    t
  }

  /** Define a reusable template (dao.go Template). */
  def defineTemplate(id: String, script: String): TemplateDef = synchronized {
    require(!templates.contains(id), s"template $id already exists")
    val parsed = TickScript.parse(script)
    val t = TemplateDef(id, script, deriveType(script), parsed.declared,
      System.currentTimeMillis())
    templates(id) = t
    t
  }

  /** The template UPDATE path (task_store handleUpdateTemplate,
    * service.go:1739-1826 + updateAllAssociatedTasks :1828-1927): the
    * new script propagates to every task instantiated from this
    * template, keeping each task's bound vars. Laws matched:
    *  - the new script validates first; an invalid script leaves
    *    template and tasks untouched;
    *  - each associated task takes the new script/type; its dbrps are
    *    replaced by the NEW script's header dbrps when either script
    *    version declares any, else kept;
    *  - an ENABLED task re-validates (the reference restarts it —
    *    startTask is where an unbound newly-declared var fails); a
    *    disabled task takes the script unvalidated, failing later at
    *    enable, exactly like the reference;
    *  - on the first task failure, every task updated so far rolls
    *    back to the old script/type/dbrps and the error rethrows — but
    *    the TEMPLATE keeps the new definition (the reference saves the
    *    template before walking tasks and only tasks roll back). */
  def redefineTemplate(id: String, script: String): TemplateDef = synchronized {
    val old = templates.getOrElse(id,
      throw new NoSuchElementException(s"no template $id"))
    val parsed = TickScript.parse(script)
    val t = old.copy(tickscript = script, taskType = deriveType(script),
      declaredVars = parsed.declared)
    templates(id) = t

    val oldDbrps = TickScript.parse(old.tickscript).dbrps
    val replaceDbrps = oldDbrps.nonEmpty || parsed.dbrps.nonEmpty
    val associated = tasks.values.filter(_.templateId.contains(id)).toSeq
    val previous = associated.map(a => a.id -> a).toMap
    val updated = scala.collection.mutable.ArrayBuffer[String]()
    try {
      for (task <- associated) {
        updated += task.id
        if (task.status == Enabled) {
          val missing = parsed.declared.keySet -- task.vars.keySet
          if (missing.nonEmpty) throw new IllegalArgumentException(
            s"error reloading associated task ${task.id}: unbound template vars: ${missing.mkString(", ")}")
        }
        tasks(task.id) = task.copy(tickscript = script, taskType = t.taskType,
          dbrps = if (replaceDbrps) parsed.dbrps else task.dbrps,
          modifiedMs = System.currentTimeMillis())
      }
    } catch {
      case e: Throwable =>
        updated.foreach(tid => tasks(tid) = previous(tid))
        throw e
    }
    t
  }

  /** Instantiate a template as a task with bound vars (Task.TemplateID +
    * Task.Vars). `dbrps`, when non-empty, overrides the script-header
    * dbrps — the client.TaskVars shape a load-directory vars file
    * carries (client.go TaskVars.CreateTaskOptions). */
  def defineFromTemplate(taskId: String, templateId: String,
      vars: Map[String, Any],
      dbrps: Seq[(String, String)] = Nil): TaskDef = synchronized {
    val tpl = templates.getOrElse(templateId,
      throw new NoSuchElementException(s"no template $templateId"))
    var t = define(taskId, tpl.tickscript, vars).copy(templateId = Some(templateId))
    if (dbrps.nonEmpty) t = t.copy(dbrps = dbrps)
    tasks(taskId) = t
    t
  }

  /** The template-instance UPDATE path (the reference load service's
    * UpdateTask branch for vars files, load/service.go:448-466):
    * status/created bookkeeping preserved, and the old task survives a
    * failed validation intact — [[redefine]] validates before mutating. */
  def redefineFromTemplate(taskId: String, templateId: String,
      vars: Map[String, Any],
      dbrps: Seq[(String, String)] = Nil): TaskDef = synchronized {
    val tpl = templates.getOrElse(templateId,
      throw new NoSuchElementException(s"no template $templateId"))
    var t = redefine(taskId, tpl.tickscript, vars).copy(templateId = Some(templateId))
    if (dbrps.nonEmpty) t = t.copy(dbrps = dbrps)
    tasks(taskId) = t
    t
  }

  /** Compile the task against `source` and mark it enabled. A compile
    * failure is recorded on the task (Error field), the task stays
    * disabled, and the failure rethrows — the reference's
    * enable-sets-Error behavior. */
  def enable(id: String, source: DataFrame, timeCol: String = "time",
      measurementCol: String = "measurement",
      udfs: Map[String, (DataFrame, Seq[TickScript.Call]) => DataFrame] = Map.empty): DataFrame =
    synchronized {
      val t = tasks.getOrElse(id, throw new NoSuchElementException(s"no task $id"))
      try {
        val df = TickScript.compile(t.tickscript, source, timeCol = timeCol,
          measurementCol = measurementCol, templateVars = t.vars, udfs = udfs)
        val now = System.currentTimeMillis()
        tasks(id) = t.copy(status = Enabled, error = "", lastEnabledMs = now,
          modifiedMs = now)
        df
      } catch {
        case e: Throwable =>
          tasks(id) = t.copy(status = Disabled,
            error = Option(e.getMessage).getOrElse(e.getClass.getSimpleName),
            modifiedMs = System.currentTimeMillis())
          throw e
      }
    }

  def disable(id: String): Unit = synchronized {
    tasks.get(id).foreach(t => tasks(id) =
      t.copy(status = Disabled, modifiedMs = System.currentTimeMillis()))
  }

  /** Delete is idempotent like the reference's DELETE handler. */
  def delete(id: String): Unit = synchronized { tasks.remove(id); () }

  def get(id: String): Option[TaskDef] = synchronized(tasks.get(id))

  /** The stored script at a retrieval format — the `script-format`
    * query param of the task/template GET handlers (task_store
    * service.go:1064-1075): `"formatted"` (the default) runs the
    * stored source through [[TickFormat.format]], falling back to the
    * raw text if formatting fails so a syntax quirk can never make a
    * task unretrievable; `"raw"` returns the text as defined. */
  def script(id: String, scriptFormat: String = "formatted"): Option[String] =
    synchronized(tasks.get(id)).map(t => renderScript(t.tickscript, scriptFormat))

  /** [[script]] for templates (service.go:1612-1623). */
  def templateScript(id: String, scriptFormat: String = "formatted"): Option[String] =
    synchronized(templates.get(id)).map(t => renderScript(t.tickscript, scriptFormat))

  /** A registry timestamp (epoch ms) as the epoch-nanos `time.Time` the
    * client documents marshal: 0 ms is the unset zero time. */
  private def goTimeNs(ms: Long): Long =
    if (ms == 0L) Replay.GoZeroTimeNs else ms * 1000000L

  /** The full `kapacitor show` / task-GET wire document
    * (client/v1/client.go:832-848 Task struct, field order exact;
    * task_store convertTask + httpd.MarshalJSON(v, pretty=true)):
    * link/id/template-id/type/dbrps/script(FORMATTED)/vars/dot/status/
    * executing/error/stats/created/modified/last-enabled. */
  def taskJson(id: String, basePath: String = "/kapacitor/v1"): Option[String] = {
    import TickJson._
    synchronized(tasks.get(id)).map { t =>
      write(obj(
        "link" -> obj("rel" -> JStr("self"),
          "href" -> JStr(s"$basePath/tasks/${t.id}")),
        "id" -> JStr(t.id),
        "template-id" -> JStr(t.templateId.getOrElse("")),
        "type" -> JStr(if (t.taskType == StreamTask) "stream" else "batch"),
        "dbrps" -> JArr(t.dbrps.map { case (db, rp) =>
          obj("db" -> JStr(db), "rp" -> JStr(rp)) }),
        "script" -> JStr(script(t.id).getOrElse(t.tickscript)),
        "vars" -> TickVars.varsObj(taskVars(t.id).getOrElse(Nil)),
        "dot" -> JStr(dot(t.id).getOrElse("")),
        "status" -> JStr(if (t.status == Enabled) "enabled" else "disabled"),
        "executing" -> JBool(t.status == Enabled),
        "error" -> JStr(t.error),
        "stats" -> obj(),
        "created" -> JStr(Replay.rfc3339Nano(goTimeNs(t.createdMs))),
        "modified" -> JStr(Replay.rfc3339Nano(goTimeNs(t.modifiedMs))),
        "last-enabled" -> JStr(Replay.rfc3339Nano(goTimeNs(t.lastEnabledMs)))))
    }
  }

  /** The template-GET wire document (client.Template,
    * client.go:851-861). */
  def templateJson(id: String, basePath: String = "/kapacitor/v1"): Option[String] = {
    import TickJson._
    synchronized(templates.get(id)).map { t =>
      write(obj(
        "link" -> obj("rel" -> JStr("self"),
          "href" -> JStr(s"$basePath/templates/${t.id}")),
        "id" -> JStr(t.id),
        "type" -> JStr(if (t.taskType == StreamTask) "stream" else "batch"),
        "script" -> JStr(templateScript(t.id).getOrElse(t.tickscript)),
        "vars" -> TickVars.varsObj(templateVars(t.id).getOrElse(Nil)),
        "dot" -> JStr(TickDot.dot(t.tickscript, t.id)),
        "error" -> JStr(""),
        "created" -> JStr(Replay.rfc3339Nano(goTimeNs(t.createdMs))),
        "modified" -> JStr(Replay.rfc3339Nano(goTimeNs(t.createdMs)))))
    }
  }

  /** The task's pipeline JSON (pipeline/json.go MarshalJSON — the DAG
    * representation Chronograf round-trips when editing rules): the
    * stored TICKscript marshaled with the task's bound template vars.
    * None when the id is unknown. */
  def pipelineJson(id: String): Option[String] =
    synchronized(tasks.get(id)).map(t => TickJson.marshal(t.tickscript, t.vars))

  /** The task's DOT graph — the `dot` field of `kapacitor show`
    * (task_store service.go:1082-1093): an enabled (executing) task
    * renders the EDot stats view at the requested `dot-view`
    * (`"attributes"` default, `"labels"` for the human xlabel form);
    * a disabled task renders the plain edge graph. Stats default to
    * the reference's initial zeros — callers with live counters pass
    * them through. */
  def dot(id: String, dotView: String = "attributes",
      throughput: Double = 0.0,
      stats: String => Seq[(String, String)] = _ => TickDot.zeroStats,
      processed: (String, String) => Long = (_, _) => 0L): Option[String] = {
    val labels = dotView match {
      case "attributes" => false
      case "labels" => true
      case other => throw new IllegalArgumentException(
        s"invalid dot-view '$other': must be 'attributes' or 'labels'")
    }
    synchronized(tasks.get(id)).map { t =>
      if (t.status == Enabled)
        TickDot.edot(t.tickscript, t.id, labels = labels,
          throughput = throughput, stats = stats, processed = processed)
      else TickDot.dot(t.tickscript, t.id)
    }
  }

  /** A template's vars as the API shape (the `vars` field of template
    * GET — every default/declared var with type, value, description;
    * task_store convertTemplate → client.Vars). */
  def templateVars(id: String): Option[Seq[(String, TickVars.Var)]] =
    synchronized(templates.get(id)).map(t => TickVars.vars(t.tickscript))

  /** [[templateVars]] rendered as the wire JSON object. */
  def templateVarsJson(id: String): Option[String] =
    synchronized(templates.get(id)).map(t => TickVars.varsJson(t.tickscript))

  /** A task's BOUND vars as the API shape (the `vars` field of a task
    * GET — the vars it was created with, typed via the script's own
    * `var x <type>` declarations so regex/star/lambda typing survives;
    * task_store convertToClientVars). The task's stored script IS the
    * template script for template-instance tasks, so one parse covers
    * both paths. */
  def taskVars(id: String): Option[Seq[(String, TickVars.Var)]] =
    synchronized(tasks.get(id)).map { t =>
      TickVars.boundVars(t.vars, TickScript.parse(t.tickscript).declared)
    }

  private def renderScript(raw: String, scriptFormat: String): String =
    scriptFormat match {
      case "formatted" =>
        try TickFormat.format(raw)
        catch { case _: IllegalArgumentException => raw }
      case "raw" => raw
      case other => throw new IllegalArgumentException(
        s"invalid script-format '$other': must be 'formatted' or 'raw'")
    }

  /** List tasks, optionally filtered by a glob on the id, with the
    * list handler's pagination (service.go:513-678: offset 0, limit
    * 100 by default; negative values rejected). */
  def list(pattern: String = "*", offset: Long = 0L, limit: Long = 100L): Seq[TaskDef] =
    synchronized {
      require(offset >= 0, s"invalid offset parameter \"$offset\"")
      require(limit >= 0, s"invalid limit parameter \"$limit\"")
      val rx = java.util.regex.Pattern.compile(
        pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
      tasks.values.filter(t => rx.matcher(t.id).matches()).toSeq
        .slice(offset.toInt, (offset + limit).toInt)
    }

  /** The list-tasks response document (`{"tasks": [...]}` —
    * handleListTasks): per-task field SELECTION (`fields` empty → all;
    * id and link always included, in the full document's field order),
    * script-format and dot-view dispatch, pattern + offset/limit. */
  def listJson(pattern: String = "*", fields: Seq[String] = Nil,
      scriptFormat: String = "formatted", dotView: String = "attributes",
      offset: Long = 0L, limit: Long = 100L,
      basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    require(scriptFormat == "formatted" || scriptFormat == "raw",
      s"""invalid script-format parameter "$scriptFormat"""")
    require(dotView == "attributes" || dotView == "labels",
      s"""invalid dot-view parameter "$dotView"""")
    val wanted: Set[String] =
      if (fields.isEmpty) Set.empty // empty = all fields
      else fields.toSet ++ Set("id", "link")
    val docs = list(pattern, offset, limit).map { t =>
      val full = TickJson.parseJson(taskJson(t.id, basePath).get) match {
        case JObj(fs) => fs
        case _ => Nil
      }
      // honor the requested script format / dot view on the selected doc
      val adjusted = full.map {
        case ("script", _) if scriptFormat == "raw" => "script" -> JStr(t.tickscript)
        case ("dot", _) if dotView == "labels" =>
          "dot" -> JStr(dot(t.id, dotView = "labels").getOrElse(""))
        case kv => kv
      }
      JObj(if (wanted.isEmpty) adjusted else adjusted.filter(kv => wanted(kv._1)))
    }
    write(obj("tasks" -> JArr(docs)))
  }

  def listTemplates(): Seq[TemplateDef] = synchronized(templates.values.toSeq)

  def getTemplate(id: String): Option[TemplateDef] = synchronized(templates.get(id))
}
