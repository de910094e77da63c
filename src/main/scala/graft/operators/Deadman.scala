package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** stats()/deadman() (reference stats.go:23-121, pipeline/node.go:282-312):
  * node-throughput accounting and the zero-throughput alarm built on it.
  *
  * stats(interval) emits the per-interval emitted-point count; deadman is
  * the macro stats → derivative('emitted') → alert(crit: emitted <=
  * threshold). The crucial semantic: an interval with NO points must still
  * alarm — so the bucket axis is generated from the observed time range
  * (cross join of the global bucket range with the group universe; both
  * sides of that join are tiny aggregates, the raw stream is touched once).
  */
object Deadman {

  /** Per-(group, interval-bucket) emitted count over the full observed
    * range, zero-filled for empty buckets. */
  def stats(df: DataFrame, timeUsCol: String, groupCol: String, intervalSeconds: Long): DataFrame = {
    val bucket = (floor(col(timeUsCol) / 1000000.0 / intervalSeconds) * intervalSeconds).cast("long")
    val counts = df
      .withColumn("bucket_s", bucket)
      .groupBy(col(groupCol), col("bucket_s"))
      .agg(count(lit(1)).as("emitted"))
    val range = df.agg(
      min(bucket).as("b0"), max(bucket).as("b1"))
      .select(explode(sequence(col("b0"), col("b1"), lit(intervalSeconds))).as("bucket_s"))
    val groups = df.select(col(groupCol)).distinct()
    groups.crossJoin(range)
      .join(counts, Seq(groupCol, "bucket_s"), "left")
      .withColumn("emitted", coalesce(col("emitted"), lit(0L)))
  }

  /** deadman(threshold, interval): CRITICAL rows where a group's interval
    * throughput is at or below the threshold, OK otherwise. */
  def deadman(
      df: DataFrame,
      timeUsCol: String,
      groupCol: String,
      intervalSeconds: Long,
      threshold: Long): DataFrame =
    stats(df, timeUsCol, groupCol, intervalSeconds)
      .withColumn("level", when(col("emitted") <= threshold, "CRITICAL").otherwise("OK"))

  // ------------------------------------------------- [deadman] service

  /** The `[deadman]` config section (reference services/deadman +
    * etc/kapacitor.conf:122-135): when `global`, every task's source
    * grows a deadman switch with these parameters; `id`/`message` are
    * the alert templates, with `NODE_NAME` replaced by the monitored
    * node's name and `INTERVAL` by the Go-rendered interval
    * (pipeline/node.go:307-310). */
  final case class GlobalConfig(
      global: Boolean = false,
      threshold: Double = 0.0,
      intervalSeconds: Long = 10,
      id: String = DefaultId,
      message: String = DefaultMessage)

  val DefaultId = "node 'NODE_NAME' in task '{{ .TaskName }}'"
  val DefaultMessage =
    "{{ .ID }} is {{ if eq .Level \"OK\" }}alive{{ else }}dead{{ end }}: " +
      "{{ index .Fields \"emitted\" | printf \"%0.3f\" }} points/INTERVAL."

  /** Parse the `[deadman]` TOML section onto [[GlobalConfig]]. */
  def parseConfig(toml: String): GlobalConfig = {
    var cfg = GlobalConfig()
    var inSection = false
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && t.head == '"' && t.last == '"')
        t.substring(1, t.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
      else t
    }
    toml.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line == "[deadman]") inSection = true
      else if (line.startsWith("[")) inSection = false
      else if (inSection && line.contains("=") && !line.startsWith("#")) {
        val (k, vRaw) = line.splitAt(line.indexOf('='))
        val v = vRaw.drop(1).trim
        k.trim match {
          case "global" =>
            require(v == "true" || v == "false",
              s"deadman: global must be true or false, got '$v'")
            cfg = cfg.copy(global = v == "true")
          case "threshold" => cfg = cfg.copy(threshold = v.toDouble)
          case "interval" =>
            cfg = cfg.copy(intervalSeconds = parseGoDurationSeconds(unquote(v)))
          case "id" => cfg = cfg.copy(id = unquote(v))
          case "message" => cfg = cfg.copy(message = unquote(v))
          case _ => ()
        }
      }
    }
    cfg
  }

  /** Go duration literal (possibly compound, `1m30s`) → whole seconds. */
  private[graft] def parseGoDurationSeconds(lit: String): Long = {
    val m = java.util.regex.Pattern
      .compile("(\\d+)(ns|us|µs|ms|s|m|h)").matcher(lit)
    var ns = 0L
    var any = false
    while (m.find()) {
      any = true
      val n = java.lang.Long.parseLong(m.group(1))
      ns += n * (m.group(2) match {
        case "ns" => 1L
        case "us" | "µs" => 1000L
        case "ms" => 1000000L
        case "s" => 1000000000L
        case "m" => 60L * 1000000000L
        case "h" => 3600L * 1000000000L
      })
    }
    require(any, s"invalid duration '$lit'")
    ns / 1000000000L
  }

  /** The GLOBAL deadman branch for one task source — what
    * createPipelineAndVars attaches when `[deadman] global = true`
    * (pipeline/pipeline.go:97-107 + node.go:282-312): the throughput
    * switch plus the service-configured `id`/`message` templates with
    * NODE_NAME/INTERVAL substituted and the alert scope (TaskName, ID,
    * Level, Fields.emitted) bound. */
  def global(df: DataFrame, timeUsCol: String, groupCol: String,
      cfg: GlobalConfig, taskName: String,
      nodeName: String = "stream0"): DataFrame = {
    import graft.functions.AlertTemplates
    val base = deadman(df, timeUsCol, groupCol,
      cfg.intervalSeconds, math.floor(cfg.threshold).toLong)
    val idTemplate = cfg.id.replace("NODE_NAME", nodeName)
    val msgTemplate = cfg.message.replace("INTERVAL",
      graft.tick.Cli.goDurationNs(cfg.intervalSeconds * 1000000000L))
    val idCol = AlertTemplates.compile(idTemplate,
      Map("TaskName" -> lit(taskName), "Level" -> col("level")))
    val withId = base.withColumn("id", idCol)
    withId.withColumn("message", AlertTemplates.compile(msgTemplate,
      Map("TaskName" -> lit(taskName), "ID" -> col("id"),
        "Level" -> col("level")),
      // the reference's Fields are float64 (%0.3f formats a float)
      fields = Some(map(lit("emitted"), col("emitted").cast("double")))))
  }
}
