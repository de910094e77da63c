package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.tick.TickJson.{JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JV, obj, sortedObj, writeCompact}

/** Readers AND writers for the reference's replay formats
  * (integrations/testdata, replay.go): `.srpl` stream replays —
  * repeating triplets of dbname / rpname / line-protocol — and `.brpl`
  * batch replays — concatenated JSON batch documents. The readers feed
  * the golden replay harness (fixture → pipeline → Result compare); the
  * writers are the RECORDING half of `services/replay/service.go`
  * (doRecordStream:1280, doRecordBatch:1341 via
  * replay.go:252 WritePointForRecording / :265 WriteBatchForRecording),
  * so a live frame can be recorded and replayed — or fixtures
  * regenerated — from graft itself.
  */
object Replay {

  /** Split concatenated JSON documents by brace depth (string-aware). */
  private[sources] def splitJsonDocs(s: String): Seq[String] = {
    val docs = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    var inStr = false
    var esc = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (esc) esc = false
      else if (inStr) {
        if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => if (depth == 0) start = i; depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0 && start >= 0) { docs += s.substring(start, i + 1); start = -1 }
        case _ => ()
      }
      i += 1
    }
    docs.result()
  }

  private val pointSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("points", ArrayType(StructType(Seq(
      StructField("fields", MapType(StringType, StringType)),
      StructField("tags", MapType(StringType, StringType)),
      StructField("time", StringType)))))))

  /** Batch replay: one row per point with (batch_idx, name, tags, time,
    * fields). Each JSON document is one batch — `batch_idx` is its ordinal
    * in the file, preserving the replay's batch boundaries (the reference
    * feeds one BeginBatch…EndBatch per document). Point-level tags override
    * batch-level ones, as in the reference's batch JSON. */
  def readBrpl(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.textFile(path).collect().mkString("\n") // fixtures are small
    val docs = splitJsonDocs(raw).zipWithIndex.toDS().toDF("value", "batch_idx")
    docs.select(col("batch_idx"), from_json(col("value"), pointSchema).as("b"))
      .select(col("batch_idx"), col("b.name").as("name"), col("b.tags").as("batch_tags"),
        explode(col("b.points")).as("p"))
      .select(
        col("batch_idx"),
        col("name"),
        coalesce(col("p.tags"), col("batch_tags"), typedlit(Map.empty[String, String])).as("tags"),
        to_timestamp(col("p.time")).as("time"),
        col("p.fields").as("fields"))
  }

  /** Stream replay: repeating (dbname, rpname, line-protocol) triplets →
    * the canonical point frame plus db/rp columns. Triplet grouping is
    * positional, so the file is indexed once with zipWithIndex. */
  def readSrpl(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val grouped = spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (l, i) => (i / 3, (i % 3, l)) }
      .groupByKey()
      .map { case (_, kvs) =>
        val m = kvs.toMap
        (m.getOrElse(0L, ""), m.getOrElse(1L, ""), m.getOrElse(2L, ""))
      }
    val withDbRp = grouped.toDF("db", "rp", "line")
      .as[(String, String, String)].flatMap { case (db, rp, line) =>
        LineProtocol.parseLine(line).map(p => (db, rp, p))
      }.toDF("db", "rp", "point")
    withDbRp.select(col("db"), col("rp"), col("point.*"))
      .withColumnRenamed("timeNs", "ts_ns")
      .withColumn("time", timestamp_micros(expr("ts_ns DIV 1000")))
  }

  // ------------------------------------------------------ record half

  /** A stream point as recorded: dbrp routing + the point itself. */
  case class RecordedPoint(db: String, rp: String, point: LineProtocol.LinePoint)

  /** One batch document of a `.brpl` recording
    * (edge.bufferedBatchMessageJSON, edge/messages.go:711-724). */
  case class RecordedBatch(
      name: String,
      tmaxNs: Long,
      group: String = "",
      byname: Boolean = false,
      tags: Map[String, String] = Map.empty,
      points: Seq[LineProtocol.LinePoint] = Nil)

  /** Go strconv.FormatFloat(v,'f',-1,64) — the line-protocol float
    * encoding (models point marshal): shortest round-trip digits, always
    * plain decimal, integral floats without ".0". */
  private[graft] def lineFloat(d: Double): String =
    if (java.lang.Double.isNaN(d)) "NaN"
    else if (java.lang.Double.isInfinite(d)) { if (d > 0) "+Inf" else "-Inf" }
    else if (d == 0.0) { if (1.0 / d < 0) "-0" else "0" }
    else new java.math.BigDecimal(java.lang.Double.toString(d))
      .stripTrailingZeros.toPlainString

  private def escMeasurement(s: String) = s.replace(",", "\\,").replace(" ", "\\ ")
  private def escKey(s: String) =
    s.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")

  /** Canonical line-protocol serialization of a point at precision "n"
    * (models point Bytes: tags AND fields sorted by key, identifier
    * escapes, `i`-suffixed ints, quoted strings, Go shortest floats).
    * Round-trips through [[LineProtocol.parseLine]]. */
  def pointLine(p: LineProtocol.LinePoint): String = {
    val tagPart = p.tags.toSeq.sortBy(_._1)
      .map { case (k, v) => s",${escKey(k)}=${escKey(v)}" }.mkString
    val fields =
      (p.fieldsFloat.map { case (k, v) => k -> lineFloat(v) } ++
        p.fieldsInt.map { case (k, v) => k -> s"${v}i" } ++
        p.fieldsBool.map { case (k, v) => k -> v.toString } ++
        p.fieldsStr.map { case (k, v) =>
          k -> ("\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        }).toSeq.sortBy(_._1)
        .map { case (k, v) => s"${escKey(k)}=$v" }.mkString(",")
    s"${escMeasurement(p.measurement)}$tagPart $fields ${p.timeNs}"
  }

  /** The stream-fork filter of doRecordStream (TaskMaster.NewFork dbrp +
    * measurement routing, service.go:1281 + the stop bound :1302 —
    * points strictly after `stopNs` are dropped). Empty filter lists
    * match everything, like a fork declared without constraints. */
  def forkFilter(
      points: Dataset[RecordedPoint],
      dbrps: Seq[(String, String)] = Nil,
      measurements: Seq[String] = Nil,
      stopNs: Long = Long.MaxValue): Dataset[RecordedPoint] =
    points.filter { rp =>
      (dbrps.isEmpty || dbrps.contains((rp.db, rp.rp))) &&
        (measurements.isEmpty || measurements.contains(rp.point.measurement)) &&
        rp.point.timeNs <= stopNs
    }

  /** WritePointForRecording triplets (replay.go:252): one
    * `db\nrp\n<line>\n` block per point, in dataset order — the record
    * stream is the dataset; serialization distributes per partition. */
  def srplBlocks(points: Dataset[RecordedPoint]): Dataset[String] = {
    import points.sparkSession.implicits._
    points.map(rp => s"${rp.db}\n${rp.rp}\n${pointLine(rp.point)}\n")
  }

  /** Write a `.srpl` recording file (driver-side concat — recordings are
    * test fixtures by construction; the distributed surface is
    * [[srplBlocks]]). Preserves dataset order via toLocalIterator. */
  def writeSrpl(points: Dataset[RecordedPoint], path: String): Unit = {
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path))
    try {
      val it = srplBlocks(points).toLocalIterator()
      while (it.hasNext) w.write(it.next())
    } finally w.close()
  }

  /** Sentinel for Go's zero time (0001-01-01T00:00:00Z, which is out of
    * int64-nanosecond range) — an unset time such as a batch's `tmax`. */
  val GoZeroTimeNs: Long = Long.MinValue

  /** Go RFC3339Nano (json.Marshal time.Time): trailing zeros stripped
    * from the fraction, zero time = 0001-01-01T00:00:00Z. Every Go time
    * the engine writes (recordings, task and flux-task documents, CLI
    * and diagnostic output) renders here. */
  private[graft] def rfc3339Nano(ns: Long): String = {
    if (ns == GoZeroTimeNs) return "0001-01-01T00:00:00Z"
    val base = java.time.LocalDateTime.ofEpochSecond(
      java.lang.Math.floorDiv(ns, 1000000000L), 0, java.time.ZoneOffset.UTC)
    val frac0 = java.lang.Math.floorMod(ns, 1000000000L)
    val frac =
      if (frac0 == 0) ""
      else "." + f"$frac0%09d".reverse.dropWhile(_ == '0').reverse
    f"${base.getYear}%04d-${base.getMonthValue}%02d-${base.getDayOfMonth}%02d" +
      f"T${base.getHour}%02d:${base.getMinute}%02d:${base.getSecond}%02d${frac}Z"
  }

  /** A point's fields as a Go map (keys sorted); a point without fields
    * marshals its nil map as `null`. A NaN/±Inf field fails the write,
    * as json.Encoder fails it. */
  private def fieldsJson(p: LineProtocol.LinePoint): JV = {
    val entries: Seq[(String, JV)] =
      p.fieldsFloat.map { case (k, v) => k -> JFloat(v) }.toSeq ++
        p.fieldsInt.map { case (k, v) => k -> JInt(v) } ++
        p.fieldsBool.map { case (k, v) => k -> JBool(v) } ++
        p.fieldsStr.map { case (k, v) => k -> JStr(v) }
    if (entries.isEmpty) JNull else sortedObj(entries)
  }

  private def tagsJson(tags: Map[String, String]): JObj =
    sortedObj(tags.toSeq.map { case (k, v) => k -> JStr(v) })

  /** WriteBatchForRecording (replay.go:265): one compact
    * `json.Encoder`-style document per batch, newline-terminated —
    * bufferedBatchMessageJSON field order with Go's omitempty behavior
    * (name/group/byname/tags/points omitted when empty; `tmax` is a
    * struct so omitempty never elides it; batch POINTS always carry
    * fields/tags/time, edge/messages.go:720-724). */
  def brplDoc(b: RecordedBatch): String = {
    val fs = Seq.newBuilder[(String, JV)]
    if (b.name.nonEmpty) fs += "name" -> JStr(b.name)
    fs += "tmax" -> JStr(rfc3339Nano(b.tmaxNs))
    if (b.group.nonEmpty) fs += "group" -> JStr(b.group)
    if (b.byname) fs += "byname" -> JBool(true)
    if (b.tags.nonEmpty) fs += "tags" -> tagsJson(b.tags)
    if (b.points.nonEmpty)
      fs += "points" -> JArr(b.points.map(p => obj(
        "fields" -> fieldsJson(p),
        "tags" -> tagsJson(p.tags),
        "time" -> JStr(rfc3339Nano(p.timeNs)))))
    writeCompact(JObj(fs.result())) + "\n"
  }

  /** Write a `.brpl` recording: concatenated batch documents in dataset
    * order (doRecordBatch drains each batch channel in order). */
  def writeBrpl(batches: Dataset[RecordedBatch], path: String): Unit = {
    import batches.sparkSession.implicits._
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path))
    try {
      val it = batches.map(brplDoc).toLocalIterator()
      while (it.hasNext) w.write(it.next())
    } finally w.close()
  }
}
