package graft.tick

import graft.sources.Replay

/** The diagnostic log wire formats and session filtering as a library
  * (reference `services/diagnostic/` — the layer behind `kapacitor logs`
  * and `kapacitor watch`):
  *
  *  - line rendering — `writeLogfmt` (log.go:199-234: `ts=<RFC3339Milli>
  *    lvl=<l> msg=<m> k=v ...`, values Go-`strconv.Quote`d only when
  *    they contain a space or `"`) and `writeJSON` (:238-273: one object
  *    per line, always-quoted keys);
  *  - the typed field family (field.go) — String/Stringer verbatim,
  *    Grouped (`key_sub=...` per member), Strings (`key_0=...` indexed),
  *    Int/Int64 base-10, Float64 via `strconv.FormatFloat('f', -1)`
  *    (never e-notation, JSON side unquoted), Bool, Error (fixed `err`
  *    key, `nil` for a nil error), Time (RFC3339Nano), Duration
  *    (Go `Duration.String()`);
  *  - session semantics (sessions.go) — a session logs a line iff its
  *    level admits it AND every subscription tag matches the line's
  *    `msg`/`lvl` or a String/Stringer field (`match`, :137-164 — all
  *    other field kinds never match, a faithful quirk); content type
  *    picks the rendering (`application/json` vs logfmt default);
  *  - the `/logs` subscription decode (api.go:85-122) — a `lvl=<name>+`
  *    query param is the level floor (names case-insensitive per
  *    logLevelFromName), every other param is a tag, duplicate params
  *    refused.
  *
  * Pure string rendering — the engine's own logging stays on the host
  * framework; this is the REFERENCE-format emitter for interop (a
  * consumer tailing Kapacitor logs can tail ours unchanged).
  */
object Diag {

  val DebugLevel = 0; val InfoLevel = 1; val ErrorLevel = 2

  /** service.go:68-80 (unknown names fall through to debug, the Go
    * zero value). */
  def levelFromName(name: String): Int = name match {
    case "INFO" | "info" => InfoLevel
    case "ERROR" | "error" => ErrorLevel
    case _ => DebugLevel
  }

  // ------------------------------------------------------------ fields

  sealed trait Field {
    /** logfmt `k=v` (field.go WriteLogfmtTo). */
    def logfmt: String
    /** JSON `"k":v` (field.go WriteJSONTo). */
    def json: String
    /** Session-tag match (only String/Stringer fields ever match). */
    def matches(key: String, value: String): Boolean = false
  }
  final case class FString(key: String, value: String) extends Field {
    def logfmt: String = s"$key=${quoteIfNeeded(value)}"
    def json: String = s"${goQuote(key)}:${goQuote(value)}"
    override def matches(k: String, v: String): Boolean = k == key && v == value
  }
  /** GroupedFields: each member renders under `key_<memberKey>`. */
  final case class FGrouped(key: String, fields: Seq[Field]) extends Field {
    def logfmt: String = fields.map(f => s"${key}_${f.logfmt}").mkString(" ")
    def json: String =
      s"${goQuote(key)}:{${fields.map(_.json).mkString(",")}}"
  }
  /** Strings: indexed members `key_0=...`; the JSON side keeps the
    * indexed keys too (`"key_0":"v"`, NOT an array — field.go:329-371),
    * and an empty list renders `"key":"nil"`. */
  final case class FStrings(key: String, values: Seq[String]) extends Field {
    def logfmt: String = values.zipWithIndex
      .map { case (v, i) => s"${key}_$i=${quoteIfNeeded(v)}" }.mkString(" ")
    def json: String =
      if (values.isEmpty) FString(key, "nil").json
      else values.zipWithIndex
        .map { case (v, i) => s"${goQuote(s"${key}_$i")}:${goQuote(v)}" }
        .mkString(",")
  }
  final case class FInt(key: String, value: Long) extends Field {
    def logfmt: String = s"$key=$value"
    def json: String = s"${goQuote(key)}:$value"
  }
  /** Float64 renders 'f'-format shortest — never e-notation. */
  final case class FFloat(key: String, value: Double) extends Field {
    private def s: String = {
      val bd = new java.math.BigDecimal(java.lang.Double.toString(value))
      val p = bd.stripTrailingZeros.toPlainString
      if (p.startsWith(".")) "0" + p else if (p.startsWith("-.")) "-0" + p.tail else p
    }
    def logfmt: String = s"$key=${quoteIfNeeded(s)}"
    def json: String = s"${goQuote(key)}:$s"
  }
  final case class FBool(key: String, value: Boolean) extends Field {
    def logfmt: String = s"$key=$value"
    def json: String = s"${goQuote(key)}:$value"
  }
  /** Error: fixed `err` key; a nil error renders `nil`. */
  final case class FError(message: Option[String]) extends Field {
    private def s: String = message.getOrElse("nil")
    def logfmt: String = s"err=${quoteIfNeeded(s)}"
    def json: String = s""""err":${goQuote(s)}"""
  }
  final case class FTime(key: String, epochNanos: Long) extends Field {
    def logfmt: String = s"$key=${quoteIfNeeded(Replay.rfc3339Nano(epochNanos))}"
    def json: String = s"${goQuote(key)}:${goQuote(Replay.rfc3339Nano(epochNanos))}"
  }
  final case class FDuration(key: String, nanos: Long) extends Field {
    def logfmt: String = s"$key=${quoteIfNeeded(Cli.goDurationNs(nanos))}"
    def json: String = s"${goQuote(key)}:${goQuote(Cli.goDurationNs(nanos))}"
  }

  // --------------------------------------------------------- rendering

  /** Go `strconv.Quote`: printable runes verbatim, `\"` `\\` and the
    * named control escapes, other control bytes as `\x%02x`. */
  def goQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\x${c.toInt}%02x"
      case c => sb += c
    }
    sb.append('"').toString
  }

  /** field.go:11-27: quote only when the value contains a space or a
    * double quote. */
  def quoteIfNeeded(s: String): String =
    if (s.exists(c => c == ' ' || c == '"')) goQuote(s) else s

  /** RFC3339Milli ("2006-01-02T15:04:05.000Z07:00") in UTC — the `ts`
    * stamp, milliseconds always 3 digits. */
  def rfc3339Milli(epochMs: Long): String =
    java.time.Instant.ofEpochMilli(epochMs).atOffset(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))

  /** One logfmt line (log.go writeLogfmt), newline included. */
  def logfmtLine(tsMs: Long, level: String, msg: String,
      context: Seq[Field] = Nil, fields: Seq[Field] = Nil): String = {
    val parts = Seq(s"ts=${rfc3339Milli(tsMs)}", s"lvl=$level",
      s"msg=${quoteIfNeeded(msg)}") ++
      context.map(_.logfmt) ++ fields.map(_.logfmt)
    parts.mkString(" ") + "\n"
  }

  /** One JSON line (log.go writeJSON), newline included. */
  def jsonLine(tsMs: Long, level: String, msg: String,
      context: Seq[Field] = Nil, fields: Seq[Field] = Nil): String = {
    val parts = Seq(s""""ts":${goQuote(rfc3339Milli(tsMs))}""",
      s""""lvl":${goQuote(level)}""", s""""msg":${goQuote(msg)}""") ++
      context.map(_.json) ++ fields.map(_.json)
    parts.mkString("{", ",", "}") + "\n"
  }

  // ---------------------------------------------------------- sessions

  /** A `/logs` subscription (sessions.go Session): level floor, tag
    * conjunction, rendering by negotiated content type. */
  final case class Session(level: Int = DebugLevel,
      tags: Seq[(String, String)] = Nil,
      contentType: String = "application/logfmt") {

    /** sessions.go:137-164: EVERY tag must match the msg, the lvl, or a
      * matching field; non-string field kinds never match. */
    def matchesLine(msg: String, level: String, context: Seq[Field],
        fields: Seq[Field]): Boolean =
      tags.forall { case (k, v) =>
        (k == "msg" && v == msg) || (k == "lvl" && v == level) ||
          context.exists(_.matches(k, v)) || fields.exists(_.matches(k, v))
      }

    /** The line this session emits for a log call, or None when its
      * level floor or tag filter drops it. `levelName` is one of
      * debug/info/error. */
    def render(tsMs: Long, levelName: String, msg: String,
        context: Seq[Field] = Nil, fields: Seq[Field] = Nil): Option[String] = {
      val lv = levelFromName(levelName)
      if (level > lv || !matchesLine(msg, levelName, context, fields)) None
      else if (contentType == "application/json")
        Some(jsonLine(tsMs, levelName, msg, context, fields))
      else Some(logfmtLine(tsMs, levelName, msg, context, fields))
    }
  }

  /** api.go:85-122: decode `/logs` query params into a session —
    * `lvl=<name>+` is the level floor, everything else a tag; duplicate
    * params refuse; Accept negotiates JSON, anything else logfmt. */
  def sessionFromQuery(params: Seq[(String, String)],
      accept: String = ""): Session = {
    val dup = params.groupBy(_._1).collectFirst { case (k, vs) if vs.size > 1 => k }
    require(dup.isEmpty, "query params cannot contain duplicate params")
    val (lvlParams, tagParams) = params.partition {
      case (k, v) => k == "lvl" && v.endsWith("+")
    }
    val level = lvlParams.headOption
      .map { case (_, v) => levelFromName(v.stripSuffix("+")) }
      .getOrElse(DebugLevel)
    val ct = if (accept == "application/json") accept else "application/logfmt"
    Session(level, tagParams, ct)
  }
}
