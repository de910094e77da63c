package graft.tick

import graft.sources.Replay

/** The `kapacitor` CLI's human-readable presentation layer as a library
  * (reference `cmd/kapacitor/main.go` — the client-side rendering of the
  * API documents the registry already serves):
  *
  *  - `showTask` / `showTemplate` — `kapacitor show[-template]`
  *    (:1402-1453, :1486-1528): the fixed field lines with Go RFC822
  *    times, `%v`-rendered dbrp lists, the three/four-column vars table
  *    (`%-30s%-10v%-40v[%-40s]`) with `varListToStr` list rendering and
  *    `<required>` for unbound template vars, script then DOT blocks;
  *  - `listTasksTable` / `listTemplatesTable` — `kapacitor list`
  *    (:1694-1763): dynamic ID-column width (`max(len(id))+1`, floor
  *    `len("ID")`), `%-10v` fixed columns, rows sorted by id;
  *  - `showTopic` (:1583-1631): level/collected/handler summary plus the
  *    event table with BOTH dynamic columns (event id, message) and the
  *    time-ascending event sort.
  *
  * Every duration/float/bool renders exactly as Go `%v` does (durations
  * via `time.Duration.String()`, floats via shortest-`%g`); the
  * reference prints event dates in the process-local zone — pinned to
  * UTC here so output is environment-independent.
  */
object Cli {

  /** Go `time.RFC822` in UTC ("02 Jan 06 15:04 UTC"); ms == 0 renders
    * the Go zero time, matching the registry's never-enabled marker. */
  def rfc822(ms: Long): String = {
    if (ms == 0L) return "01 Jan 01 00:00 UTC"
    java.time.Instant.ofEpochMilli(ms).atOffset(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(
        "dd MMM yy HH:mm", java.util.Locale.US)) + " UTC"
  }

  /** Go `time.Duration.String()` at nanosecond resolution. */
  def goDurationNs(ns: Long): String = {
    if (ns == 0L) return "0s"
    val neg = ns < 0; val u = math.abs(ns)
    def frac(whole: Long, rem: Long, scale: Long): String =
      if (rem == 0) whole.toString
      else {
        val d = BigDecimal(whole) + BigDecimal(rem) / BigDecimal(scale)
        d.underlying.stripTrailingZeros.toPlainString
      }
    val out =
      if (u < 1000L) s"${u}ns"
      else if (u < 1000000L) frac(u / 1000, u % 1000, 1000) + "µs"
      else if (u < 1000000000L) frac(u / 1000000, u % 1000000, 1000000) + "ms"
      else {
        val secs = u / 1000000000L; val rem = u % 1000000000L
        val h = secs / 3600; val m = (secs % 3600) / 60; val sec = secs % 60
        val sPart = frac(sec, rem, 1000000000L) + "s"
        (if (h > 0) s"${h}h" else "") +
          (if (h > 0 || m > 0) s"${m}m" else "") + sPart
      }
    if (neg) "-" + out else out
  }

  /** Go `%v` of a float64: `strconv.FormatFloat(f, 'g', -1, 64)` —
    * shortest digits, switching to e-notation (two-digit-padded
    * exponent) when the decimal exponent is < -4 or ≥ 6, so 100000
    * prints plain but 1000000 prints `1e+06`. */
  def goFloatV(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "+Inf" else "-Inf"
    if (d == 0.0) return "0"
    val bd = new java.math.BigDecimal(java.lang.Double.toString(d))
    val ud = bd.unscaledValue.abs.toString
    val sig = { val t = ud.reverse.dropWhile(_ == '0').reverse; if (t.isEmpty) "0" else t }
    val exp = (ud.length - 1) - bd.scale
    val sign = if (d < 0) "-" else ""
    if (exp < -4 || exp >= 6) {
      val mant = if (sig.length == 1) sig else s"${sig.head}.${sig.tail}"
      val es = if (exp < 0) "-" else "+"
      f"$sign$mant%se$es${math.abs(exp)}%02d"
    } else {
      val plain = bd.abs.stripTrailingZeros.toPlainString
      sign + plain
    }
  }

  private[graft] def pad(s: String, w: Int): String =
    if (s.length >= w) s else s + (" " * (w - s.length))

  /** `%v` of client.DBRPs: `["db"."rp" "db2"."rp2"]`. */
  def dbrpsStr(dbrps: Seq[(String, String)]): String =
    dbrps.map { case (db, rp) => s""""$db"."$rp"""" }.mkString("[", " ", "]")

  /** `varListToStr` (:1455-1474): string elements raw, star as `*`. */
  def varListToStr(items: Seq[(String, Any)]): String =
    items.map {
      case ("star", _) => "*"
      case (_, v) => String.valueOf(v)
    }.mkString("[", ", ", "]")

  /** A var value as the CLI's `%v` shows it after the client unmarshal
    * (client.go:745-822: durations become time.Duration, ints int64,
    * floats float64, lists []Var). */
  def varValueStr(v: TickVars.Var): String = v match {
    case TickVars.Var(_, None, _) => "<nil>"
    case TickVars.Var("duration", Some(n: Long), _) => goDurationNs(n)
    case TickVars.Var("list", Some(items: Seq[_]), _) =>
      varListToStr(items.asInstanceOf[Seq[(String, Any)]])
    case TickVars.Var("float", Some(d: Double), _) => goFloatV(d)
    case TickVars.Var(_, Some(x), _) => String.valueOf(x)
  }

  private def varsTable(vars: Seq[(String, TickVars.Var)],
      withDescription: Boolean, requiredMarker: Boolean): String = {
    val sb = new StringBuilder
    def row(cols: Seq[String]): Unit = {
      sb ++= pad(cols.head, 30) ++= pad(cols(1), 10) ++= pad(cols(2), 40)
      if (withDescription) sb ++= pad(cols(3), 40)
      sb += '\n'
    }
    row(Seq("Name", "Type", "Value", "Description"))
    vars.sortBy(_._1).foreach { case (name, v) =>
      val value = v.value match {
        case None if requiredMarker => "<required>"
        case _ => varValueStr(v)
      }
      row(Seq(name, v.tpe, value, v.description))
    }
    sb.toString
  }

  /** `kapacitor show <task>` (:1402-1453). None when the id is
    * unknown. */
  def showTask(reg: TaskRegistry, id: String,
      dotView: String = "attributes"): Option[String] =
    reg.get(id).map { t =>
      val sb = new StringBuilder
      sb ++= s"ID: ${t.id}\n"
      sb ++= s"Error: ${t.error}\n"
      sb ++= s"Template: ${t.templateId.getOrElse("")}\n"
      sb ++= s"Type: ${if (t.taskType == reg.StreamTask) "stream" else "batch"}\n"
      sb ++= s"Status: ${if (t.status == reg.Enabled) "enabled" else "disabled"}\n"
      sb ++= s"Executing: ${t.status == reg.Enabled}\n"
      sb ++= s"Created: ${rfc822(t.createdMs)}\n"
      sb ++= s"Modified: ${rfc822(t.modifiedMs)}\n"
      sb ++= s"LastEnabled: ${rfc822(t.lastEnabledMs)}\n"
      sb ++= s"Databases Retention Policies: ${dbrpsStr(t.dbrps)}\n"
      sb ++= s"TICKscript:\n${reg.script(t.id).getOrElse(t.tickscript)}\n"
      val vars = reg.taskVars(t.id).getOrElse(Nil)
      if (vars.nonEmpty) {
        sb ++= "Vars:\n"
        sb ++= varsTable(vars, withDescription = false, requiredMarker = false)
      }
      sb ++= s"DOT:\n${reg.dot(t.id, dotView).getOrElse("")}\n"
      sb.toString
    }

  /** `kapacitor show-template <template>` (:1486-1528) — the vars table
    * always prints (header included) and carries the Description column;
    * unbound declared vars show `<required>`. */
  def showTemplate(reg: TaskRegistry, id: String): Option[String] =
    reg.getTemplate(id).map { t =>
      val sb = new StringBuilder
      sb ++= s"ID: ${t.id}\n"
      sb ++= "Error: \n"
      sb ++= s"Type: ${if (t.taskType == reg.StreamTask) "stream" else "batch"}\n"
      sb ++= s"Created: ${rfc822(t.createdMs)}\n"
      sb ++= s"Modified: ${rfc822(t.createdMs)}\n"
      sb ++= s"TICKscript:\n${reg.templateScript(t.id).getOrElse(t.tickscript)}\n"
      sb ++= "Vars:\n"
      sb ++= varsTable(reg.templateVars(t.id).getOrElse(Nil),
        withDescription = true, requiredMarker = true)
      sb ++= s"DOT:\n${TickDot.dot(t.tickscript, t.id)}\n"
      sb.toString
    }

  /** `kapacitor list tasks` (:1694-1726): dynamic ID width, fixed
    * 10-char Type/Status/Executing columns, rows sorted by id. */
  def listTasksTable(reg: TaskRegistry, patterns: Seq[String] = Seq("*")): String = {
    val all = patterns.flatMap(p => reg.list(p)).sortBy(_.id)
    val w = math.max(2, all.map(_.id.length).maxOption.getOrElse(0)) + 1
    val sb = new StringBuilder
    def row(id: String, tp: String, st: String, ex: String, db: String): Unit =
      sb ++= pad(id, w) ++= pad(tp, 10) ++= pad(st, 10) ++= pad(ex, 10) ++= db += '\n'
    row("ID", "Type", "Status", "Executing", "Databases and Retention Policies")
    all.foreach { t =>
      row(t.id, if (t.taskType == reg.BatchTask) "batch" else "stream",
        if (t.status == reg.Enabled) "enabled" else "disabled",
        (t.status == reg.Enabled).toString, dbrpsStr(t.dbrps))
    }
    sb.toString
  }

  /** `kapacitor show-topic` (:1583-1631): summary lines + the event
    * table with dynamic event-id and message widths, events time-asc.
    * `events` rows are (id, level, message, timeMs); the reference
    * prints dates in the local zone — pinned UTC here. */
  def showTopic(id: String, level: String, collected: Long,
      handlerIds: Seq[String],
      events: Seq[(String, String, String, Long)]): String = {
    val we = math.max(5, events.map(_._1.length).maxOption.getOrElse(0)) + 1
    val wm = math.max(7, events.map(_._3.length).maxOption.getOrElse(0)) + 1
    val sb = new StringBuilder
    sb ++= s"ID: $id\n"
    sb ++= s"Level: $level\n"
    sb ++= s"Collected: $collected\n"
    sb ++= s"Handlers: [${handlerIds.mkString(", ")}]\n"
    sb ++= "Events:\n"
    def row(e: String, l: String, m: String, d: String): Unit =
      sb ++= pad(e, we) ++= pad(l, 9) ++= pad(m, wm) ++= pad(d, 23) += '\n'
    row("Event", "Level", "Message", "Date")
    events.sortBy(_._4).foreach { case (eid, lvl, msg, ts) =>
      row(eid, lvl, msg, rfc822(ts))
    }
    sb.toString
  }

  /** `kapacitor show-topic-handler` (:1541-1565). `optionsJson` is the
    * handler's options object as compact JSON. */
  def showTopicHandler(id: String, topic: String, kind: String,
      matchExpr: String, optionsJson: String): String =
    s"ID: $id\nTopic: $topic\nKind: $kind\nMatch: $matchExpr\nOptions: $optionsJson\n"

  /** The recording GET document (services/replay/service.go:365-392
    * convertRecording → httpd.MarshalJSON pretty; client.Recording
    * struct order). `dateMs` renders Go time JSON (RFC3339Nano). */
  def recordingJson(id: String, typ: String, size: Long, dateMs: Long,
      error: String = "", status: String = "finished",
      progress: Double = 1.0, basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    write(obj(
      "link" -> obj("rel" -> JStr("self"),
        "href" -> JStr(s"$basePath/recordings/$id")),
      "id" -> JStr(id),
      "type" -> JStr(typ),
      "size" -> JInt(size),
      "date" -> JStr(Replay.rfc3339Nano(dateMs * 1000000L)),
      "error" -> JStr(error),
      "status" -> JStr(status),
      "progress" -> JFloat(progress)))
  }

  /** The replay GET document (client.Replay struct order,
    * client.go:876-888). `stats` always marshals — Go's `omitempty`
    * never elides a struct value, a faithful quirk. */
  def replayJson(id: String, task: String, recording: String,
      recordingTime: Boolean, clock: String, dateMs: Long,
      error: String = "", status: String = "finished",
      progress: Double = 1.0, basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    write(obj(
      "link" -> obj("rel" -> JStr("self"),
        "href" -> JStr(s"$basePath/replays/$id")),
      "id" -> JStr(id),
      "task" -> JStr(task),
      "recording" -> JStr(recording),
      "recording-time" -> JBool(recordingTime),
      "clock" -> JStr(clock),
      "date" -> JStr(Replay.rfc3339Nano(dateMs * 1000000L)),
      "error" -> JStr(error),
      "status" -> JStr(status),
      "progress" -> JFloat(progress),
      "stats" -> obj()))
  }

  /** `kapacitor list recordings` (:1766-1799): dynamic ID width, sizes
    * through Go humanize.Bytes, dates RFC822 (UTC-pinned). `rows` are
    * (id, type, status, sizeBytes, dateMs), listed in the service's
    * id-sorted order. */
  def listRecordingsTable(rows: Seq[(String, String, String, Long, Long)]): String = {
    val w = math.max(2, rows.map(_._1.length).maxOption.getOrElse(0)) + 1
    val sb = new StringBuilder
    def row(id: String, tp: String, st: String, sz: String, dt: String): Unit =
      sb ++= pad(id, w) ++= pad(tp, 8) ++= pad(st, 10) ++= pad(sz, 10) ++=
        pad(dt, 23) += '\n'
    row("ID", "Type", "Status", "Size", "Date")
    rows.sortBy(_._1).foreach { case (id, tp, st, size, dateMs) =>
      row(id, tp, st,
        graft.functions.TickFunctions.humanBytesImpl(size.toDouble),
        rfc822(dateMs))
    }
    sb.toString
  }

  /** `kapacitor list replays` (:1800-1841). `rows` are
    * (id, task, recording, status, clock, dateMs). */
  def listReplaysTable(rows: Seq[(String, String, String, String, String, Long)]): String = {
    val wi = math.max(2, rows.map(_._1.length).maxOption.getOrElse(0)) + 1
    val wt = math.max(4, rows.map(_._2.length).maxOption.getOrElse(0)) + 1
    val wr = math.max(9, rows.map(_._3.length).maxOption.getOrElse(0)) + 1
    val sb = new StringBuilder
    def row(id: String, t: String, r: String, st: String, ck: String,
        dt: String): Unit =
      sb ++= pad(id, wi) ++= pad(t, wt) ++= pad(r, wr) ++= pad(st, 9) ++=
        pad(ck, 8) ++= pad(dt, 23) += '\n'
    row("ID", "Task", "Recording", "Status", "Clock", "Date")
    rows.sortBy(_._1).foreach { case (id, t, r, st, ck, dateMs) =>
      row(id, t, r, st, ck, rfc822(dateMs))
    }
    sb.toString
  }

  /** The topic GET document (services/alert/api.go:243-251
    * createClientTopic → httpd.MarshalJSON pretty; client.Topic struct
    * order with the events/handlers relation links). */
  def topicJson(id: String, level: String, collected: Long,
      basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    val base = s"$basePath/alerts/topics/$id"
    write(obj(
      "link" -> obj("rel" -> JStr("self"), "href" -> JStr(base)),
      "id" -> JStr(id),
      "level" -> JStr(level),
      "collected" -> JInt(collected),
      "events-link" -> obj("rel" -> JStr("events"),
        "href" -> JStr(s"$base/events")),
      "handlers-link" -> obj("rel" -> JStr("handlers"),
        "href" -> JStr(s"$base/handlers"))))
  }

  /** The topic-handler GET document (api.go:279-286 convertHandlerSpec;
    * client.TopicHandler struct order — options is a Go map, keys
    * sorted). */
  def topicHandlerJson(topic: String, id: String, kind: String,
      options: Seq[(String, TickJson.JV)], matchExpr: String = "",
      basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    write(obj(
      "link" -> obj("rel" -> JStr("self"),
        "href" -> JStr(s"$basePath/alerts/topics/$topic/handlers/$id")),
      "id" -> JStr(id),
      "kind" -> JStr(kind),
      "options" -> sortedObj(options),
      "match" -> JStr(matchExpr)))
  }

  /** The topic-event GET document (api.go:303-312 + client.TopicEvent/
    * EventState struct order; duration renders Go Duration.String). */
  def topicEventJson(topic: String, id: String, message: String,
      details: String, timeMs: Long, durationNs: Long, level: String,
      basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    write(obj(
      "link" -> obj("rel" -> JStr("self"),
        "href" -> JStr(s"$basePath/alerts/topics/$topic/events/$id")),
      "id" -> JStr(id),
      "state" -> obj(
        "message" -> JStr(message),
        "details" -> JStr(details),
        "time" -> JStr(Replay.rfc3339Nano(timeMs * 1000000L)),
        "duration" -> JStr(goDurationNs(durationNs)),
        "level" -> JStr(level))))
  }

  /** `kapacitor stats general` (:2175-2185): fixed 30-char label/value
    * columns off the server vars. */
  def statsGeneral(clusterId: String, serverId: String, host: String,
      tasks: Long, enabledTasks: Long, subscriptions: Long,
      platform: String = "OSS", version: String = "graft"): String = {
    val sb = new StringBuilder
    def row(k: String, v: String): Unit = sb ++= pad(k, 30) ++= pad(v, 30) += '\n'
    row("ClusterID:", clusterId)
    row("ServerID:", serverId)
    row("Host:", host)
    row("Tasks:", tasks.toString)
    row("Enabled Tasks:", enabledTasks.toString)
    row("Subscriptions:", subscriptions.toString)
    row("Platform:", platform)
    row("Version:", version)
    sb.toString
  }

  /** `kapacitor stats ingress` (:2186-2238): dynamic db/rp/measurement
    * widths (+1 space), `%15d` RIGHT-aligned points column, rows sorted
    * (db, rp, measurement). `rows` are
    * (database, retentionPolicy, measurement, pointsReceived). */
  def statsIngress(rows: Seq[(String, String, String, Long)]): String = {
    val wd = math.max(8, rows.map(_._1.length).maxOption.getOrElse(0)) + 1
    val wr = math.max(16, rows.map(_._2.length).maxOption.getOrElse(0)) + 1
    val wm = math.max(11, rows.map(_._3.length).maxOption.getOrElse(0)) + 1
    val sb = new StringBuilder
    sb ++= pad("Database", wd) ++= pad("Retention Policy", wr) ++=
      pad("Measurement", wm) ++= "Points Received" += '\n'
    rows.sortBy(r => (r._1, r._2, r._3)).foreach { case (d, r, m, n) =>
      val num = n.toString
      val left = if (num.length >= 15) num else (" " * (15 - num.length)) + num
      sb ++= pad(d, wd) ++= pad(r, wr) ++= pad(m, wm) ++= left += '\n'
    }
    sb.toString
  }
}
