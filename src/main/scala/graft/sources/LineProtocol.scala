package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/** InfluxDB line-protocol ingestion (reference: the HTTP write path,
  * task_master.go:792-822, services/httpd) re-expressed as a distributed
  * parse: a `Dataset[String]` of protocol lines (from any file/socket/Kafka
  * source) maps partition-locally onto the canonical point schema. No
  * driver involvement; a malformed line yields a null-measurement row the
  * caller can route to a dead-letter sink instead of failing the batch.
  *
  * Syntax (public line-protocol spec):
  *   measurement[,tag=v...] field=value[,field=value...] [timestamp-ns]
  * with backslash escapes for ',', ' ', '=' in identifiers, quoted string
  * field values, and typed scalars: 1.0 float, 5i integer, true/false
  * boolean, "s" string.
  */
object LineProtocol {

  case class LinePoint(
      measurement: String,
      tags: Map[String, String],
      fieldsFloat: Map[String, Double],
      fieldsInt: Map[String, Long],
      fieldsBool: Map[String, Boolean],
      fieldsStr: Map[String, String],
      timeNs: Long)

  /** Split `s` on `sep` occurrences not preceded by a backslash and not
    * inside double quotes. A backslash skips the character after it and a
    * quote toggles, so each piece is the substring between two splitting
    * separators, escapes and quotes kept. */
  private[graft] def splitUnescaped(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var from = 0
    var inQuotes = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 1
      else if (c == '"') inQuotes = !inQuotes
      else if (c == sep && !inQuotes) { out += s.substring(from, i); from = i + 1 }
      i += 1
    }
    out += s.substring(from)
    out.result()
  }

  private def unescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else s.replace("\\,", ",").replace("\\ ", " ").replace("\\=", "=")

  /** Parse one line; None for blank/comment lines. Malformed field sets
    * yield a point with no fields rather than an exception. */
  def parseLine(line: String, defaultTimeNs: Long = 0L): Option[LinePoint] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) return None
    val sections = splitUnescaped(t, ' ').filter(_.nonEmpty)
    if (sections.isEmpty) return None
    val keyPart = splitUnescaped(sections.head, ',')
    val measurement = unescape(keyPart.head)
    val tags = keyPart.tail.flatMap { kv =>
      splitUnescaped(kv, '=') match {
        case Seq(k, v) => Some(unescape(k) -> unescape(v))
        case _         => None
      }
    }.toMap
    var ff = Map.empty[String, Double]
    var fi = Map.empty[String, Long]
    var fb = Map.empty[String, Boolean]
    var fs = Map.empty[String, String]
    if (sections.length >= 2) {
      splitUnescaped(sections(1), ',').foreach { kv =>
        splitUnescaped(kv, '=') match {
          case Seq(k0, v) =>
            val k = unescape(k0)
            if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2)
              fs += k -> v.substring(1, v.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
            else if (v.equalsIgnoreCase("true") || v == "t" || v == "T") fb += k -> true
            else if (v.equalsIgnoreCase("false") || v == "f" || v == "F") fb += k -> false
            else if (v.endsWith("i") || v.endsWith("u"))
              v.dropRight(1).toLongOption.foreach(l => fi += k -> l)
            else v.toDoubleOption.foreach(d => ff += k -> d)
          case _ => ()
        }
      }
    }
    val timeNs = if (sections.length >= 3) sections(2).toLongOption.getOrElse(defaultTimeNs)
    else defaultTimeNs
    Some(LinePoint(measurement, tags, ff, fi, fb, fs, timeNs))
  }

  /** The `/write?precision=` multiplier (httpd handler.go:465-470 →
    * influxdb models.ParsePointsWithPrecision): a line's integer
    * timestamp is in these units, scaled to nanos on parse. */
  def precisionMultiplier(precision: String): Long = precision match {
    case "" | "n" | "ns" => 1L
    case "u" | "us" => 1000L
    case "ms" => 1000000L
    case "s" => 1000000000L
    case "m" => 60L * 1000000000L
    case "h" => 3600L * 1000000000L
    case other => throw new IllegalArgumentException(
      s"unknown precision '$other'")
  }

  /** [[parseLine]] at a write precision: present timestamps scale by
    * the multiplier; a missing timestamp takes the server default
    * TRUNCATED to the precision (ParsePointsWithPrecision's
    * defaultTime.Truncate). */
  def parseLineWithPrecision(line: String, defaultTimeNs: Long,
      precision: String): Option[LinePoint] =
    parseLineScaled(line, defaultTimeNs, precisionMultiplier(precision))

  private def parseLineScaled(line: String, defaultTimeNs: Long,
      mult: Long): Option[LinePoint] =
    parseLine(line, Long.MinValue).map { p =>
      val t = if (p.timeNs == Long.MinValue) defaultTimeNs - defaultTimeNs % mult
        else p.timeNs * mult
      p.copy(timeNs = t)
    }

  /** Distributed parse: lines → canonical points (partition-local). An
    * unknown precision fails here, before any line is read. */
  def parse(lines: Dataset[String], defaultTimeNs: Long = 0L,
      precision: String = "n"): Dataset[LinePoint] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val mult = precisionMultiplier(precision)
    if (mult == 1L) lines.flatMap(parseLine(_, defaultTimeNs))
    else lines.flatMap(parseLineScaled(_, defaultTimeNs, mult))
  }

  /** Points as a DataFrame with an event-time column, ready for the Pipe
    * algebra (time as µs-precision timestamp; raw ns retained). */
  def toPointFrame(points: Dataset[LinePoint]): DataFrame = {
    import org.apache.spark.sql.functions._
    points.toDF()
      .withColumnRenamed("timeNs", "ts_ns")
      .withColumn("time", timestamp_micros(expr("ts_ns DIV 1000")))
  }
}
