package taskbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. One JVM runs one workload:
  *
  *   1. one cold set-up: a SparkSession that loads the inputs, compiles
  *      the task and completes the workload's first op, timed from
  *      `--launched`, the epoch second at which the JVM was launched;
  *   2. an untimed check pass that also warms the JIT;
  *   3. a measured window of at least `--seconds` seconds, after which
  *      peak RSS and the JVM counters are read before any output check.
  *
  * Every record goes to stdout as one `TB <json>` line and is flushed
  * before the session stops, so a failing shutdown loses no result.
  * Spark's own logging stays on stderr.
  *
  *   java -cp <classes>:<spark jars> taskbench.Main --workload batch_tasks \
  *     --data <dir> --out <dir> --seconds 16 --trace 0 --seed 1 --launched <epoch s>
  */
object Main {

  def emit(kind: String, fields: (String, Any)*): Unit = {
    println("TB " + Json.obj(("kind" -> kind) +: fields))
    System.out.flush()
  }

  def session(): SparkSession = {
    val s = graft.Graft.session("taskbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cumulative JVM counters: GC pause ms, JIT ms, process CPU s. */
  final case class JvmClock(gcMs: Double, jitMs: Double, cpuS: Double) {
    def -(o: JvmClock): JvmClock = JvmClock(gcMs - o.gcMs, jitMs - o.jitMs, cpuS - o.cpuS)
    def fields: Seq[(String, Any)] =
      Seq("jvm.gc_ms" -> gcMs, "jvm.jit_ms" -> jitMs, "jvm.cpu_s" -> cpuS)
  }
  object JvmClock {
    def now(): JvmClock = {
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble
      val jit = Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
      val cpu = ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
        case _ => 0.0
      }
      JvmClock(gc, jit, cpu)
    }
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Seconds since the JVM was launched. */
  def jvmUptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def epochS(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cfg = Config(
      dataDir = opt("data"), outDir = opt("out"), seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble, trace = opt("trace") == "1")
    val w: Workload = workload match {
      case "batch_tasks"   => new BatchWorkload(cfg, BatchWorkload.batchTasks)
      case "stream_ingest" => new StreamWorkload(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    emit("start", "workload" -> workload, "seed" -> cfg.seed,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "cores" -> Runtime.getRuntime.availableProcessors)
    var spark: SparkSession = null
    try {
      spark = session()
      val detail = w.setUp(spark)
      emit("setup", ("setup_s" -> (epochS() - opt("launched").toDouble)) +: detail: _*)
      val checkT0 = System.nanoTime()
      val checks = w.check()
      emit("check", "s" -> (System.nanoTime() - checkT0) / 1e9, "items" -> checks)
      val clock0 = JvmClock.now()
      val result = w.measure()
      val jvm = JvmClock.now() - clock0
      val rss = peakRssMb()
      emit("measure", (result ++ w.verify() ++ jvm.fields :+ ("peak_rss_mb" -> rss)): _*)
      if (cfg.trace) emit("trace", w.traceSummary(): _*)
      emit("end", "uptime_s" -> jvmUptimeS())
    } finally {
      if (spark != null) {
        try w.tearDown() finally spark.stop()
      }
    }
  }
}

final case class Config(
    dataDir: String, outDir: String, seed: Long, seconds: Double, trace: Boolean)

/** One workload: set-up (ending in its first completed op), an untimed
  * correctness check, and a measured window. Each op is reported as an
  * `op` line as soon as it ends. */
trait Workload {
  def setUp(spark: SparkSession): Seq[(String, Any)]
  def tearDown(): Unit
  def check(): Seq[Map[String, Any]]
  def measure(): Seq[(String, Any)]
  /** Output checks of the measured window, run once it has ended. */
  def verify(): Seq[(String, Any)] = Nil
  def traceSummary(): Seq[(String, Any)]
}

/** Minimal JSON encoder for the harness's records. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
