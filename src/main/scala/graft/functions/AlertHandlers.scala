package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.tick.TickJson

/** Alert handler payload formatters (reference pipeline/alert.go:637-2544
  * and the services packages): the reference's 27 handlers are, at core,
  * JSON/text payload shapes pushed over a transport. Here each formatter is
  * a codegen'd Column producing the payload string; transport is the
  * caller's `foreachBatch` (see Sinks.httpPost) — the engine computes, the
  * sink delivers, and the formatter fan-out costs one projection, not one
  * goroutine per handler.
  */
object AlertHandlers {

  private val jsonStrUdf = udf((s: String) => if (s == null) null else TickJson.escapeGo(s))

  /** A Go json.Marshal string column (quotes included); null stays null.
    * A UDF like [[goNum]], and on the same per-alert render path. */
  private def jsonStr(c: Column): Column = jsonStrUdf(c.cast("string"))

  /** Generic webhook payload — the reference's httpPost/alert POST body
    * (id, message, level, time, duration). */
  def webhook(id: Column, message: Column, level: Column, timeUs: Column, durationUs: Column): Column =
    concat(
      lit("{\"id\":"), jsonStr(id),
      lit(",\"message\":"), jsonStr(message),
      lit(",\"level\":"), jsonStr(level),
      lit(",\"time\":"), timeUs.cast("string"),
      lit(",\"duration\":"), durationUs.cast("string"),
      lit("}"))

  /** Slack-style payload (services/slack): text + colored attachment by
    * level. */
  def slack(message: Column, level: Column, channel: String): Column = {
    val color = when(level === "CRITICAL", "danger")
      .when(level === "WARNING", "warning")
      .otherwise("good")
    concat(
      lit(s"""{"channel":"$channel","attachments":[{"fallback":"""),
      jsonStr(message), lit(",\"color\":"), jsonStr(color),
      lit(",\"text\":"), jsonStr(message), lit("}]}"))
  }

  /** PagerDuty-style event (services/pagerduty2): routing key + event
    * action trigger/resolve by level. */
  def pagerduty(id: Column, message: Column, level: Column, routingKey: String): Column = {
    val action = when(level === "OK", "resolve").otherwise("trigger")
    val severity = when(level === "CRITICAL", "critical")
      .when(level === "WARNING", "warning")
      .when(level === "INFO", "info")
      .otherwise("info")
    concat(
      lit(s"""{"routing_key":"$routingKey","event_action":"""), jsonStr(action),
      lit(""","dedup_key":"""), jsonStr(id),
      lit(""","payload":{"summary":"""), jsonStr(message),
      lit(""","severity":"""), jsonStr(severity), lit("}}"))
  }

  /** Exec/log handler line (services/alert log handler): a flat
    * tab-separated record ready for a line sink. */
  def logLine(id: Column, message: Column, level: Column, timeUs: Column): Column =
    concat_ws("\t", timeUs.cast("string"), level, id, message)

  /** The canonical `alert.Data` JSON document (reference alert/types.go:
    * 183-193) — the payload the log, exec and tcp handlers all emit
    * (services/alert/handlers.go:69-176). Field order and encodings match
    * the Go struct: RFC3339 UTC time, duration in nanoseconds, levels as
    * their names. The nested `data` Result is the caller's pre-rendered
    * JSON (ResultRenderer.toJson) so the formatter stays one codegen'd
    * projection. */
  def alertData(
      id: Column, message: Column, details: Column, timeUs: Column,
      durationUs: Column, level: Column, previousLevel: Column,
      recoverable: Column, dataJson: Column = lit("{}")): Column =
    concat(
      lit("{\"id\":"), jsonStr(id),
      lit(",\"message\":"), jsonStr(message),
      lit(",\"details\":"), jsonStr(details),
      lit(",\"time\":"), jsonStr(date_format(
        timestamp_micros(timeUs.cast("long")), "yyyy-MM-dd'T'HH:mm:ss'Z'")),
      lit(",\"duration\":"), (durationUs.cast("long") * 1000L).cast("string"),
      lit(",\"level\":"), jsonStr(level),
      lit(",\"data\":"), dataJson,
      lit(",\"previousLevel\":"), jsonStr(previousLevel),
      lit(",\"recoverable\":"), recoverable.cast("boolean").cast("string"),
      lit("}"))

  /** Email handler message (services/smtp): a minimal RFC-822 document —
    * subject is the alert message, body the details, exactly the
    * reference's mapping (smtp service Handle → send(subject=message,
    * body=details)). */
  def emailMime(to: String, from: String, message: Column, details: Column): Column =
    concat(
      lit(s"From: $from\r\nTo: $to\r\nSubject: "), message,
      lit("\r\nMIME-Version: 1.0\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"),
      details)

  // -------------------------------------------------------------------------
  // Round-8 handler sweep. The reference builds most of these payloads as Go
  // maps through encoding/json, which emits keys in SORTED order — each
  // formatter below lists its keys alphabetically (or in declared struct
  // order for struct payloads) so the bytes match the reference's wire
  // format, as pinned by AlertHandlersSpec against the integration-test
  // expectations in integrations/streamer_test.go.

  /** An omitted-when-empty JSON member: `,"key":"v"` or nothing
    * (Go `omitempty` / conditional map insert). */
  private def optStr(key: String, c: Column): Column =
    when(c.isNull || c === "", lit(""))
      .otherwise(concat(lit(s""","$key":"""), jsonStr(c)))

  /** VictorOps alert (services/victorops/service.go:131-171): a Go map →
    * alphabetical keys; `data` is the rendered Result JSON as a STRING
    * (the non-JSONData default), timestamp in Unix seconds. */
  def victorops(messageType: Column, entityId: Column, stateMessage: Column,
      timestampS: Column, dataJson: Column): Column =
    concat(
      lit("{\"data\":"), jsonStr(dataJson),
      lit(",\"entity_id\":"), jsonStr(entityId),
      lit(",\"message_type\":"), jsonStr(messageType),
      lit(",\"monitoring_tool\":\"kapacitor\""),
      lit(",\"state_message\":"), jsonStr(stateMessage),
      lit(",\"timestamp\":"), timestampS.cast("long").cast("string"),
      lit("}"))

  /** Telegram sendMessage body (services/telegram/service.go:137-170):
    * chat_id and text always; parse_mode only when set; the two disable
    * flags only when true. */
  def telegram(chatId: String, text: Column, parseMode: String = "",
      disableWebPagePreview: Boolean = false,
      disableNotification: Boolean = false): Column =
    concat(
      lit(s"""{"chat_id":"$chatId""""),
      lit(if (disableNotification) ",\"disable_notification\":true" else ""),
      lit(if (disableWebPagePreview) ",\"disable_web_page_preview\":true" else ""),
      lit(if (parseMode.nonEmpty) s""","parse_mode":"$parseMode"""" else ""),
      lit(",\"text\":"), jsonStr(text),
      lit("}"))

  /** Microsoft Teams MessageCard (services/teams/service.go:128-182):
    * struct-ordered members; title `LEVEL: [id]`, summary truncated at 70
    * chars + "...", theme color by level. */
  def teams(alertId: Column, message: Column, level: Column): Column = {
    val title = concat(level, lit(": ["), alertId, lit("]"))
    val summary = concat(substring(concat(title, lit(" - "), message), 1, 70), lit("..."))
    val color = when(level === "WARNING", "FFA533")
      .when(level === "CRITICAL", "CC4A31")
      .otherwise("34CC25")
    concat(
      lit("{\"@type\":\"MessageCard\""),
      lit(",\"@context\":\"http://schema.org/extensions\""),
      lit(",\"title\":"), jsonStr(title),
      lit(",\"text\":"), jsonStr(message),
      lit(",\"summary\":"), jsonStr(summary),
      lit(",\"themeColor\":"), jsonStr(color),
      lit("}"))
  }

  /** ServiceNow em event (services/servicenow/service.go:163-300): one
    * `{"records":[Event]}` wrapper; Event members in struct order with
    * omitempty on everything but source; severity OK→5 WARNING→4
    * CRITICAL→1 else 0; additional_info is a JSON object of STRING values
    * marshaled into a string, keys sorted. */
  def serviceNow(source: String, node: Column, eventType: Column,
      resource: Column, metricName: Column, messageKey: Column, level: Column,
      description: Column, additionalInfo: Seq[(String, Column)] = Nil): Column = {
    val severity = when(level === "OK", "5").when(level === "WARNING", "4")
      .when(level === "CRITICAL", "1").otherwise("0")
    val info =
      if (additionalInfo.isEmpty) lit("")
      else {
        val obj = concat(
          lit("{") +:
            additionalInfo.sortBy(_._1).zipWithIndex.flatMap { case ((k, v), i) =>
              Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""),
                coalesce(jsonStr(v), lit("null")))
            } :+ lit("}"): _*)
        concat(lit(",\"additional_info\":"), jsonStr(obj))
      }
    concat(
      lit(s"""{"records":[{"source":"$source""""),
      optStr("node", node),
      optStr("type", eventType),
      optStr("resource", resource),
      optStr("metric_name", metricName),
      optStr("message_key", messageKey),
      lit(",\"severity\":"), jsonStr(severity),
      optStr("description", description),
      info,
      lit("}]}"))
  }

  /** OpsGenie v2 alert (services/opsgenie2/service.go:145-260): Go map →
    * alphabetical keys; alias is the URL-safe base64 of the id; priority
    * INFO→P5 WARNING→P3 CRITICAL→P1; details carries the first row's tags
    * plus the Kapacitor markers (key-sorted); responders keep teams-then-
    * recipients insertion order (each entry its own key-sorted map). */
  def opsgenie2(teamNames: Seq[String], recipients: Seq[String],
      message: Column, entityId: Column, level: Column, descriptionJson: Column,
      taskName: Column, tags: Seq[(String, Column)] = Nil): Column = {
    val alias = translate(base64(entityId.cast("binary")), "+/", "-_")
    val priority = when(level === "INFO", "P5").when(level === "WARNING", "P3")
      .when(level === "CRITICAL", "P1").otherwise("")
    val detailPairs: Seq[(String, Column)] =
      (tags ++ Seq("Kapacitor Task Name" -> taskName,
        "Level" -> level, "Monitoring Tool" -> lit("Kapacitor"))).sortBy(_._1)
    val details = concat(
      lit("{") +:
        detailPairs.zipWithIndex.flatMap { case ((k, v), i) =>
          // a null tag must not null the whole payload concat
          Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""),
            coalesce(jsonStr(v), lit("null")))
        } :+ lit("}"): _*)
    val responders = (teamNames.map(t => s"""{"name":"$t","type":"team"}""") ++
      recipients.map(r => s"""{"type":"user","username":"$r"}"""))
      .mkString("[", ",", "]")
    concat(
      lit("{\"alias\":"), jsonStr(alias),
      lit(",\"description\":"), jsonStr(descriptionJson),
      lit(",\"details\":"), details,
      lit(",\"entity\":"), jsonStr(entityId),
      lit(",\"message\":"), jsonStr(message),
      lit(",\"note\":\"\""),
      lit(",\"priority\":"), jsonStr(priority),
      lit(if (teamNames.nonEmpty || recipients.nonEmpty)
        s""","responders":$responders""" else ""),
      lit("}"))
  }

  /** Go json.Marshal float64 rendering ([[TickJson.goFloat]]), except
    * that NaN/±Inf — which json.Marshal refuses outright — render as JSON
    * null so one bad field cannot invalidate the payload. */
  private[graft] def goJsonFloat(d: Double): String =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) "null"
    else TickJson.goFloat(d)

  private val goNumUdf = udf((d: java.lang.Double) =>
    if (d == null) null else goJsonFloat(d.doubleValue))

  /** Go-style JSON number column. A UDF by necessity: Go's shortest-repr
    * float grammar has no Column-expression equivalent, and this sits on
    * the alert-payload render path (per-event, not per-point hot path);
    * it still renders distributed on the executors. */
  private def goNum(c: Column): Column = goNumUdf(c.cast("double"))

  /** Single-point models.Result JSON for an alert row — the `data` payload
    * the reference attaches to handlers (alert.Data / VictorOps JSONData,
    * services/victorops/service.go:90-128): the Result of the triggering
    * batch, which for a windowed aggregate is one series with one value
    * row `[RFC3339-time, field…]`. Pure column concat — renders
    * distributed, no driver involvement. */
  def rowResultJson(
      name: Column, tags: Seq[(String, Column)], timeUs: Column,
      fields: Seq[(String, Column)],
      fieldJson: ((String, Column)) => Column): Column = {
    val tagsJson =
      if (tags.isEmpty) lit("{}")
      else concat(
        lit("{") +: tags.sortBy(_._1).zipWithIndex.flatMap { case ((k, v), i) =>
          // a null dim (fill('null') outer join riding a finer .on() dim)
          // must not null the whole payload concat
          Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""),
            coalesce(jsonStr(v.cast("string")), lit("null")))
        } :+ lit("}"): _*)
    val colsJson = ("time" +: fields.map(_._1)).map(c => s""""$c"""").mkString("[", ",", "]")
    val timeJson = concat(lit("\""),
      date_format(timestamp_micros(timeUs), "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit("\""))
    val valueJson = concat(
      (lit("[") +: timeJson +: fields.flatMap(f => Seq(lit(","), fieldJson(f)))) :+ lit("]"): _*)
    concat(
      lit("""{"series":[{"name":"""), jsonStr(name),
      lit(""","tags":"""), tagsJson,
      lit(""","columns":"""), lit(colsJson),
      lit(""","values":["""), valueJson,
      lit("]}]}"))
  }

  /** Field-value JSON renderer by Spark type (Go json.Marshal semantics
    * for the types a point carries). Nulls render as JSON null — a null
    * operand would otherwise null the entire concat'd payload (a
    * fill('null') join upstream of an alert is a normal shape). */
  def fieldJsonFor(schema: org.apache.spark.sql.types.StructType): ((String, Column)) => Column = {
    case (nm, c) =>
      val rendered = schema.find(_.name == nm).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType) =>
          goNum(c)
        case Some(org.apache.spark.sql.types.BooleanType) => c.cast("string")
        case Some(t) if t.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
          c.cast("string")
        case _ => jsonStr(c.cast("string"))
      }
      coalesce(rendered, lit("null"))
  }

  /** OpsGenie v2 recovery (level OK): the body is just the note; the alert
    * is addressed by `<alias>/<close|notes>?identifierType=alias` in the
    * URL (service.go:156-175). */
  def opsgenie2Recovery(message: Column): Column =
    concat(lit("{\"note\":"), jsonStr(message), lit("}"))

  /** The recovery request URL path: the alert's URL-safe-base64 alias +
    * the configured recovery action (`notes` or `close`) addressed by
    * alias (service.go:156-175). */
  def opsgenie2RecoveryUrl(entityId: Column, recoveryAction: String): Column =
    concat(lit("/"), translate(base64(entityId.cast("binary")), "+/", "-_"),
      lit(s"/$recoveryAction?identifierType=alias"))

  /** Discord webhook (services/discord/service.go:283-330): map keys
    * alphabetical; one embed in struct order (color, title, description,
    * timestamp); colors CRITICAL→0xF95F53 WARNING→0xF48D38 else 0x7A65F2. */
  def discord(username: String, avatarUrl: String, embedTitle: String,
      message: Column, level: Column, timestamp: Column = lit("")): Column = {
    val color = when(level === "CRITICAL", 0xF95F53)
      .when(level === "WARNING", 0xF48D38).otherwise(0x7A65F2)
    concat(
      lit(s"""{"avatar_url":"$avatarUrl","embeds":[{"color":"""),
      color.cast("string"),
      lit(s""","title":"$embedTitle","description":"""), jsonStr(message),
      lit(",\"timestamp\":"), jsonStr(timestamp),
      lit(s"""}],"username":"$username"}"""))
  }

  /** Alerta alert (services/alerta/service.go:176-240): Go map →
    * alphabetical keys; severity by level (alert.go:516-528); service/
    * correlate/attributes omitted when empty; timeout in whole seconds;
    * tags always present (possibly empty) as `k=v` strings. Attribute
    * values are raw JSON fragments (the reference passes through typed
    * lambda results). */
  def alerta(resource: Column, event: Column, environment: Column,
      level: Column, group: Column, value: Column, text: Column,
      origin: Column, services: Seq[Column] = Nil, correlate: Seq[Column] = Nil,
      attributes: Seq[(String, Column)] = Nil, timeoutS: Long = 86400L,
      tags: Seq[Column] = Nil, rawDataJson: Column = lit("{}")): Column = {
    val severity = when(level === "OK", "ok").when(level === "INFO", "informational")
      .when(level === "WARNING", "warning").when(level === "CRITICAL", "critical")
      .otherwise("indeterminate")
    def strArray(cs: Seq[Column]): Column =
      if (cs.isEmpty) lit("[]")
      else concat(lit("[") +: cs.zipWithIndex.flatMap { case (c, i) =>
        Seq(lit(if (i == 0) "" else ","), jsonStr(c))
      } :+ lit("]"): _*)
    val attrs = concat(
      lit("{") +:
        attributes.sortBy(_._1).zipWithIndex.flatMap { case ((k, v), i) =>
          Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""), v)
        } :+ lit("}"): _*)
    // member presence is static (Scala params), so the alphabetical member
    // list is assembled statically and joined with commas
    val members: Seq[(String, Column)] =
      (if (attributes.nonEmpty) Seq("attributes" -> attrs) else Nil) ++
      (if (correlate.nonEmpty) Seq("correlate" -> strArray(correlate)) else Nil) ++
      Seq(
        "environment" -> jsonStr(environment),
        "event" -> jsonStr(event),
        "group" -> jsonStr(group),
        "origin" -> jsonStr(origin),
        "rawData" -> rawDataJson,
        "resource" -> jsonStr(resource)) ++
      (if (services.nonEmpty) Seq("service" -> strArray(services)) else Nil) ++
      Seq(
        "severity" -> jsonStr(severity),
        "tags" -> strArray(tags),
        "text" -> jsonStr(text),
        "timeout" -> lit(timeoutS.toString),
        "value" -> jsonStr(value))
    concat(
      lit("{") +:
        members.zipWithIndex.flatMap { case ((k, v), i) =>
          Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""), v)
        } :+ lit("}"): _*)
  }

  // -------------------------------------------------------------------------
  // Round-8 completion sweep: the remaining reference handlers. Same rules
  // as above — Go map payloads emit keys in sorted order, struct payloads
  // in declared order; each shape is pinned to the corresponding
  // TestStream_Alert<Service> expectation in AlertHandlersSpec.

  /** OpsGenie v1 alert (services/opsgenie/service.go:120-180): Go map →
    * alphabetical keys; alias = raw id (v1 has no base64), details only
    * carries Level + Monitoring Tool, teams/recipients are plain string
    * arrays, apiKey rides in the body. */
  def opsgenie(apiKey: String, teamNames: Seq[String], recipients: Seq[String],
      message: Column, entityId: Column, level: Column,
      descriptionJson: Column): Column =
    concat(
      lit("{\"alias\":"), jsonStr(entityId),
      lit(s""","apiKey":"$apiKey""""),
      lit(",\"description\":"), jsonStr(descriptionJson),
      lit(",\"details\":{\"Level\":"), jsonStr(level),
      lit(",\"Monitoring Tool\":\"Kapacitor\"}"),
      lit(",\"entity\":"), jsonStr(entityId),
      lit(",\"message\":"), jsonStr(message),
      lit(",\"monitoring_tool\":\"kapacitor\""),
      lit(",\"note\":\"\""),
      lit(if (recipients.nonEmpty)
        recipients.map(r => s""""$r"""").mkString(",\"recipients\":[", ",", "]") else ""),
      lit(if (teamNames.nonEmpty)
        teamNames.map(t => s""""$t"""").mkString(",\"teams\":[", ",", "]") else ""),
      lit("}"))

  /** PagerDuty v1 event (services/pagerduty/service.go:125-165): a
    * map[string]string → alphabetical keys; trigger on WARNING/CRITICAL,
    * resolve otherwise (the reference ERRORS on INFO — callers filter);
    * details is the rendered Result JSON as a string. */
  def pagerduty1(serviceKey: String, clientUrl: String, incidentKey: Column,
      description: Column, level: Column, detailsJson: Column): Column = {
    val eventType = when(level === "WARNING" || level === "CRITICAL", "trigger")
      .otherwise("resolve")
    concat(
      lit("{\"client\":\"kapacitor\""),
      lit(s""","client_url":"$clientUrl""""),
      lit(",\"description\":"), jsonStr(description),
      lit(",\"details\":"), jsonStr(detailsJson),
      lit(",\"event_type\":"), jsonStr(eventType),
      lit(",\"incident_key\":"), jsonStr(incidentKey),
      lit(s""","service_key":"$serviceKey""""),
      lit("}"))
  }

  /** Sensu check result (services/sensu/service.go:128-172): a Go map over
    * a TCP socket — alphabetical keys; status OK/INFO→0 WARNING→1
    * CRITICAL→2 else 3; metadata entries merge in at top level (existing
    * keys win). Metadata values are raw JSON fragments. */
  def sensu(source: String, handlers: Seq[String], name: Column, output: Column,
      level: Column, metadata: Seq[(String, Column)] = Nil): Column = {
    val status = when(level === "WARNING", 1).when(level === "CRITICAL", 2)
      .when(level === "OK" || level === "INFO", 0).otherwise(3)
    val reserved = Set("name", "source", "output", "status", "handlers")
    val members: Seq[(String, Column)] = (Seq(
      "handlers" -> lit(handlers.map(h => s""""$h"""").mkString("[", ",", "]")),
      "name" -> jsonStr(name),
      "output" -> jsonStr(output),
      "source" -> lit(s""""$source""""),
      "status" -> status.cast("string")) ++
      metadata.filterNot(kv => reserved(kv._1))).sortBy(_._1)
    concat(
      lit("{") +:
        members.zipWithIndex.flatMap { case ((k, v), i) =>
          Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""), v)
        } :+ lit("}"): _*)
  }

  /** Pushover message (services/pushover/service.go:135-225): a FORM body —
    * url.Values.Encode emits keys alphabetically, empty optionals omitted;
    * priority OK→-2 INFO→-1 WARNING→0 CRITICAL→1. */
  def pushover(token: String, userKey: String, message: Column, level: Column,
      device: String = "", title: String = "", url: String = "",
      urlTitle: String = "", sound: String = ""): Column = {
    val priority = when(level === "OK", -2).when(level === "INFO", -1)
      .when(level === "WARNING", 0).when(level === "CRITICAL", 1).otherwise(0)
    def enc(v: String) =
      java.net.URLEncoder.encode(v, "UTF-8").replace("*", "%2A").replace("%7E", "~")
    // full x-www-form-urlencoded escaping of the message column; url_encode
    // is URLEncoder semantics, fixed up on the two bytes where Go's
    // url.QueryEscape disagrees ('*' encoded, '~' kept)
    val encMsg =
      regexp_replace(regexp_replace(url_encode(message), "\\*", "%2A"), "%7E", "~")
    concat(
      lit(if (device.nonEmpty) s"device=${enc(device)}&" else ""),
      lit("message="), encMsg,
      lit("&priority="), priority.cast("string"),
      lit(if (sound.nonEmpty) s"&sound=${enc(sound)}" else ""),
      lit(if (title.nonEmpty) s"&title=${enc(title)}" else ""),
      lit(s"&token=${enc(token)}"),
      lit(if (url.nonEmpty) s"&url=${enc(url)}" else ""),
      lit(if (urlTitle.nonEmpty) s"&url_title=${enc(urlTitle)}" else ""),
      lit(s"&user=${enc(userKey)}"))
  }

  /** HipChat room notification (services/hipchat/service.go:140-160): Go
    * map → alphabetical keys; color WARNING→yellow CRITICAL→red else
    * green; notify always true. */
  def hipchat(message: Column, level: Column): Column = {
    val color = when(level === "WARNING", "yellow")
      .when(level === "CRITICAL", "red").otherwise("green")
    concat(
      lit("{\"color\":"), jsonStr(color),
      lit(",\"from\":\"kapacitor\""),
      lit(",\"message\":"), jsonStr(message),
      lit(",\"notify\":true}"))
  }

  /** BigPanda alert (services/bigpanda/service.go:190-285): Go map →
    * alphabetical keys; status OK/INFO→ok WARNING→warning CRITICAL→critical;
    * task is "TaskName:Name"; timestamp Unix seconds; extra attributes are
    * raw JSON fragments merged at top level. */
  def bigpanda(appKey: String, check: Column, description: Column,
      level: Column, timestampS: Column, taskName: Column, name: Column,
      host: Column = lit(""), detailsUrl: String = "",
      primaryProperty: String = "", secondaryProperty: String = "",
      attributes: Seq[(String, Column)] = Nil): Column = {
    val status = when(level === "WARNING", "warning")
      .when(level === "CRITICAL", "critical").otherwise("ok")
    val members: Seq[(String, Column)] = (Seq(
      "app_key" -> lit(s""""$appKey""""),
      "check" -> jsonStr(check),
      "description" -> jsonStr(description),
      "status" -> jsonStr(status),
      "task" -> jsonStr(concat(taskName, lit(":"), name)),
      "timestamp" -> timestampS.cast("long").cast("string")) ++
      (if (detailsUrl.nonEmpty) Seq("details" -> lit(s""""$detailsUrl"""")) else Nil) ++
      Seq("host" -> jsonStr(host)) ++
      (if (primaryProperty.nonEmpty) Seq("primary_property" -> lit(s""""$primaryProperty"""")) else Nil) ++
      (if (secondaryProperty.nonEmpty) Seq("secondary_property" -> lit(s""""$secondaryProperty"""")) else Nil) ++
      attributes).sortBy(_._1)
    concat(
      lit("{") +:
        members.zipWithIndex.flatMap { case ((k, v), i) =>
          Seq(lit(if (i == 0) s""""$k":""" else s""","$k":"""), v)
        } :+ lit("}"): _*)
  }

  /** Zenoss evconsole event (services/zenoss/service.go:180-260): struct-
    * ordered envelope {action, method, data:[...], type, tid}; the data
    * map's keys sort; severity by level (Clear/Info/Warning/Critical). */
  def zenoss(summary: Column, level: Column, device: Column, component: Column,
      evClassKey: Column = lit(""), evClass: Column = lit(""),
      action: String = "EventsRouter", method: String = "add_event",
      eventType: String = "rpc", tid: Long = 1L): Column = {
    val severity = when(level === "CRITICAL", "Critical")
      .when(level === "WARNING", "Warning").when(level === "INFO", "Info")
      .otherwise("Clear")
    concat(
      lit(s"""{"action":"$action","method":"$method","data":[{"""),
      lit("\"component\":"), jsonStr(component),
      lit(",\"device\":"), jsonStr(device),
      lit(",\"evclass\":"), jsonStr(evClass),
      lit(",\"evclasskey\":"), jsonStr(evClassKey),
      lit(",\"severity\":"), jsonStr(severity),
      lit(",\"summary\":"), jsonStr(summary),
      lit(s"""}],"type":"$eventType","tid":$tid}"""))
  }

  /** Kafka message body (services/kafka/service.go:396-412): the rendered
    * handler template when one is set, else the canonical alert.Data JSON;
    * the message key is the alert id and topic/cluster are transport
    * routing. This helper is the no-template default. */
  def kafkaBody(id: Column, message: Column, details: Column, timeUs: Column,
      durationUs: Column, level: Column): Column =
    alertData(id, message, details, timeUs, durationUs, level, lit("OK"), lit(true))

  /** MQTT payload (services/mqtt/service.go:250-258): the body IS the
    * rendered alert message; topic/QoS/retained are transport routing. */
  def mqttBody(message: Column): Column = message

  /** SNMP trap (services/snmptrap/service.go): rendered as the trap
    * document — trap OID plus typed varbinds after the standard sysUpTime
    * and snmpTrapOID binds; type codes c/s/i/n/t map to their SNMP types.
    * The BER/transport encoding is the caller's. */
  def snmpTrap(trapOid: String, data: Seq[(String, String, Column)]): Column = {
    val typeName = Map("c" -> "Counter64", "s" -> "OctetString",
      "i" -> "Integer", "n" -> "Null", "t" -> "TimeTicks")
    val binds: Seq[Column] =
      Seq(lit("""{"oid":"1.3.6.1.2.1.1.3.0","type":"TimeTicks"}"""),
        lit(s"""{"oid":"1.3.6.1.6.3.1.1.4.1.0","type":"Oid","value":"$trapOid"}""")) ++
      data.map { case (oid, tc, v) =>
        val tn = typeName.getOrElse(tc,
          throw new IllegalArgumentException(s"unknown snmp type code $tc"))
        if (tc == "n") lit(s"""{"oid":"$oid","type":"Null"}""")
        else concat(lit(s"""{"oid":"$oid","type":"$tn","value":"""),
          jsonStr(v), lit("}"))
      }
    concat(
      lit(s"""{"trap_oid":"$trapOid","varbinds":[""") +:
        binds.zipWithIndex.flatMap { case (b, i) =>
          if (i == 0) Seq(b) else Seq(lit(","), b)
        } :+ lit("]}"): _*)
  }

  /** Talk message (services/talk/service.go:105-125): Go map →
    * alphabetical keys; title is the alert id, text the message. */
  def talk(authorName: String, id: Column, message: Column): Column =
    concat(
      lit(s"""{"authorName":"$authorName","text":"""), jsonStr(message),
      lit(",\"title\":"), jsonStr(id),
      lit("}"))
}
