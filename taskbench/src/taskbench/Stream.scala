package taskbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sources.LineProtocol
import graft.tick.TickScript

/** A Kapacitor stream task fed line-protocol writes.
  *
  * The task is [[StreamWorkload.Script]], compiled by `TickScript.compile`
  * onto `LineProtocol.parse` over a `MemoryStream[String]` and run as a
  * Structured Streaming query in update mode. Each write carries one 10 s
  * event-time window for every host, so each write closes its own windows
  * and emits one alert row per host.
  *
  *  - trickle: one closed-loop writer sends fixed-size writes and waits for
  *    each write's results before it sends the next;
  *  - drain: a backlog of many windows is written at once and the time
  *    until the task has processed all of it is measured.
  *
  * Emitted alerts are checked against the same script compiled over the
  * same lines as a batch frame.
  */
final class StreamWorkload(cfg: Config) extends Workload {
  import StreamWorkload._
  import Tracer._

  private var spark: SparkSession = _
  private var source: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var compileMs = 0.0
  private var nextWindow = 0L
  private val gen = new Gen(cfg.seed)
  // (first window, windows, points per host) of every write to the query
  private val written = ArrayBuffer.empty[(Long, Int, Int)]
  private val emissions = new ConcurrentLinkedQueue[Emission]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val tracer = new Tracer
  private val trickle = ArrayBuffer.empty[Write]
  private val drains = ArrayBuffer.empty[Drain]

  private val progressListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def setUp(s: SparkSession): Seq[(String, Any)] = {
    spark = s
    if (cfg.trace) spark.streams.addListener(progressListener)
    source = MemoryStream[String](org.apache.spark.sql.Encoders.STRING, spark.sqlContext)
    val t0 = System.nanoTime()
    val task = TickScript.compile(Script, points(source.toDS()))
    compileMs = (System.nanoTime() - t0) / 1e6
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      emissions.add(Emission(id, System.nanoTime(), rows))
    }
    query = task.writeStream.outputMode("update")
      .option("checkpointLocation", s"${cfg.outDir}/checkpoint")
      .foreachBatch(sink).start()
    val w = write(traced = false)
    Seq("tick.compile_ms" -> compileMs, "first_write_ms" -> w.latencyMs,
      "first_write_ok" -> w.ok)
  }

  def tearDown(): Unit = if (query != null) {
    query.stop()
    spark.streams.removeListener(progressListener)
  }

  /** Warm-up writes and one small drain, then the parity check so far. */
  def check(): Seq[Map[String, Any]] = {
    for (_ <- 1 to WarmWrites) write(traced = false)
    drain(WarmDrainWindows, traced = false)
    Seq(Map("query" -> "stream_parity", "kind" -> "parity", "ok" -> parity().isEmpty,
      "windows" -> nextWindow))
  }

  /** Trickle for half the window, then drain rounds for the other half. In
    * the traced run every other write and drain is traced. The alerts are
    * checked in [[verify]], after the window. */
  def measure(): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < cfg.seconds / 2 || i < 2) {
      trickle += write(traced = cfg.trace && i % 2 == 1)
      i += 1
    }
    val trickleS = elapsed
    var j = 0
    while (elapsed - trickleS < cfg.seconds / 2 || j < 2) {
      drains += drain(DrainWindows, traced = cfg.trace && j % 2 == 1)
      j += 1
    }
    Seq("window_s" -> elapsed, "trickle_s" -> trickleS, "writes" -> trickle.size,
      "drains" -> drains.size)
  }

  override def verify(): Seq[(String, Any)] = {
    val bad = parity()
    val badWrites = trickle.count(w => !w.ok || bad.contains(w.window))
    val badDrains = drains.count(d => d.windows.exists(bad.contains))
    trickle.foreach(w => Main.emit("op", "phase" -> "trickle", "ms" -> w.latencyMs,
      "ack_ms" -> w.ackMs, "ok" -> (w.ok && !bad.contains(w.window))))
    drains.foreach(d => Main.emit("op", "phase" -> "drain", "ms" -> d.ms, "points" -> d.points,
      "ok" -> !d.windows.exists(bad.contains)))
    Seq("failed_writes" -> badWrites, "failed_drains" -> badDrains,
      "mismatched_windows" -> bad.size)
  }

  def traceSummary(): Seq[(String, Any)] = {
    val byBatch = progress.asScala.map(p => p.batchId -> p).toMap
    val tw = trickle.filter(_.traced).toSeq
    val twBatches = tw.flatMap(_.batchIds).flatMap(byBatch.get)
    def dur(p: StreamingQueryProgress, ks: String*) =
      ks.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val layers = tw.map(w => tracer.layers(tracer.jobsOfBatches(w.batchIds.toSet)))
    val lastState = progress.asScala.toSeq.sortBy(_.batchId).lastOption
      .flatMap(_.stateOperators.headOption)
    val allBatches = byBatch.values.toSeq
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    // share of each write's latency that its micro-batches overlap
    val coverage = tw.map { w =>
      val covered = w.batchIds.flatMap(byBatch.get).map { p =>
        val s = (startMs(p) - w.createdEpochMs).toDouble
        math.max(0.0, math.min(s + dur(p, "triggerExecution"), w.latencyMs) - math.max(s, 0.0))
      }.sum
      math.min(covered, w.latencyMs) / w.latencyMs
    }
    val untracedMs = trickle.filterNot(_.traced).map(_.latencyMs).toSeq
    val spans = tw.map { w =>
      Map[String, Any]("name" -> s"write ${w.window}", "start_ms" -> 0.0, "dur_ms" -> w.latencyMs,
        "children" -> w.batchIds.flatMap(byBatch.get).map { p =>
          val start = startMs(p)
          Map[String, Any]("name" -> s"micro-batch ${p.batchId}",
            "start_ms" -> (start - w.createdEpochMs), "dur_ms" -> dur(p, "triggerExecution"),
            "input_rows" -> p.numInputRows,
            "children" -> (p.durationMs.asScala.toSeq.filter(_._1 != "triggerExecution").map {
              case (k, v) => Map[String, Any]("name" -> k, "dur_ms" -> v.toDouble)
            } ++ tracer.jobSpans(tracer.jobsOfBatches(Set(p.batchId)), start)))
        })
    }
    BatchWorkload.writeTrace(cfg.outDir + "/trace.json", spans)
    Seq(
      "tick.compile_ms" -> compileMs,
      "sources.parse_points_per_s" -> parseOnly(),
      "microbatch.plan_ms" -> mean(twBatches.map(dur(_, "queryPlanning", "getBatch", "latestOffset"))),
      "microbatch.exec_ms" -> mean(twBatches.map(dur(_, "addBatch"))),
      "microbatch.commit_ms" -> mean(twBatches.map(dur(_, "walCommit", "commitOffsets"))),
      "microbatch.per_write" -> mean(tw.map(_.batchIds.size.toDouble)),
      "microbatch.empty_frac" -> mean(twBatches.map(p => if (p.numInputRows == 0) 1.0 else 0.0)),
      "state.rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.mb" -> lastState.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "state.commit_ms" -> mean(allBatches.flatMap(_.stateOperators.headOption)
        .map(_.commitTimeMs.toDouble)),
      "scheduler.jobs" -> mean(layers.map(_.jobs.toDouble)),
      "scheduler.tasks" -> mean(layers.map(_.tasks.toDouble)),
      "scheduler.delay_ms" -> mean(layers.map(_.delayMs)),
      "executor.task_ms" -> mean(layers.map(_.taskMs)),
      "executor.cores_busy" -> mean(tw.zip(layers).map { case (w, l) => l.taskMs / w.latencyMs }),
      "shuffle.write_mb" -> mean(layers.map(_.shuffleWriteMb)),
      "shuffle.spill_mb" -> mean(layers.map(_.spillMb)),
      "trace.coverage" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      "trace.overhead_pct" ->
        (if (tw.isEmpty || untracedMs.isEmpty) 0.0
         else (mean(tw.map(_.latencyMs)) / mean(untracedMs) - 1) * 100),
      "trace.ops" -> tw.size)
  }

  /** One closed-loop write: its latency runs from the write's creation to
    * the emission of its results; the ack is when the task is idle again. */
  private def write(traced: Boolean): Write = {
    val lines = gen.window(nextWindow, TricklePointsPerHost)
    val window = nextWindow
    nextWindow += 1
    written += ((window, 1, TricklePointsPerHost))
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(tracer)
    val seen = emissions.size
    val createdEpochMs = System.currentTimeMillis()
    val created = System.nanoTime()
    source.addData(lines)
    query.processAllAvailable()
    val acked = System.nanoTime()
    if (traced) detach(sc, tracer)
    val mine = emissions.asScala.drop(seen).toSeq
    val emitted = mine.filter(_.rows.exists(r => r.getAs[Long]("bucket_s") == bucketS(window)))
    val at = emitted.lastOption.map(_.nanos).getOrElse(acked)
    Write(window, traced, createdEpochMs, (at - created) / 1e6, (acked - created) / 1e6,
      mine.map(_.batchId), ok = emitted.map(_.rows.length).sum == Hosts)
  }

  private def drain(windows: Int, traced: Boolean): Drain = {
    val lines = gen.windows(nextWindow, windows, DrainPointsPerHost)
    val ws = nextWindow until nextWindow + windows
    nextWindow += windows
    written += ((ws.head, windows, DrainPointsPerHost))
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(tracer)
    val t0 = System.nanoTime()
    source.addData(lines)
    query.processAllAvailable()
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) detach(sc, tracer)
    Drain(ws, lines.size, ms)
  }

  /** Windows whose streamed alert differs from the batch compile of the
    * same lines (or is missing from either side). */
  private def parity(): Set[Long] = {
    val s = spark
    import s.implicits._
    val lines = written.toSeq.flatMap { case (w, n, per) => gen.windows(w, n, per) }
    val batch = TickScript.compile(Script, points(s.createDataset(lines)))
    val expected = batch.select(ParityCols.map(col): _*).collect().map(key).toMap
    // update mode: the last emission of a group is its final value
    val streamed = mutable.HashMap.empty[(String, Long), Seq[Any]]
    emissions.asScala.toSeq.sortBy(_.batchId).foreach { e =>
      e.rows.foreach { r =>
        val (k, v) = key(Row.fromSeq(ParityCols.map(c => r.getAs[Any](c))))
        streamed(k) = v
      }
    }
    val keys = expected.keySet ++ streamed.keySet
    keys.filterNot(k => same(expected.get(k), streamed.get(k))).map(k => k._2 / WindowS)
  }

  /** `LineProtocol.parse` alone over a drain-sized input, as points/s. */
  private def parseOnly(): Double = {
    val s = spark
    import s.implicits._
    val lines = gen.windows(0, DrainWindows, DrainPointsPerHost)
    val ds = s.createDataset(lines).cache()
    ds.count()
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val qe = LineProtocol.parse(ds).queryExecution
      BatchWorkload.consume(qe.toRdd)
      lines.size / ((System.nanoTime() - t0) / 1e9)
    }
    ds.unpersist()
    median(rates)
  }
}

object StreamWorkload {
  val Script: String =
    """stream
      |	|from()
      |		.measurement('cpu')
      |		.groupBy('host')
      |	|window()
      |		.period(10s)
      |		.every(10s)
      |	|mean('usage')
      |	|alert()
      |		.id('cpu/{{ index .Tags "host" }}')
      |		.warn(lambda: "mean" > 60.0)
      |		.crit(lambda: "mean" > 80.0)
      |""".stripMargin

  val Hosts = 50
  val WindowS = 10L
  val TricklePointsPerHost = 20 // 1,000 points per write
  val DrainPointsPerHost = 20
  val DrainWindows = 150 // 150,000 points per drain
  val WarmWrites = 8
  val WarmDrainWindows = 100
  val T0S = 1704067200L // 2024-01-01T00:00:00Z
  val ParityCols = Seq("host", "bucket_s", "mean", "level", "id", "message")

  def bucketS(window: Long): Long = T0S + window * WindowS

  /** Line protocol → the point frame the script compiles onto. */
  def points(lines: Dataset[String]): DataFrame =
    LineProtocol.toPointFrame(LineProtocol.parse(lines))
      .select(col("measurement"), col("time"), col("tags")("host").as("host"),
        col("fieldsFloat")("usage").as("usage"))

  private def key(r: Row): ((String, Long), Seq[Any]) = {
    val host = r.getString(0)
    val b = r.getAs[Long](1)
    ((host, b - T0S), (2 until r.length).map(r.get))
  }

  private def same(a: Option[Seq[Any]], b: Option[Seq[Any]]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => x.zip(y).forall {
      case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
      case (p, q) => p == q
    }
    case _ => false
  }

  final case class Emission(batchId: Long, nanos: Long, rows: Array[Row])
  final case class Write(window: Long, traced: Boolean, createdEpochMs: Long, latencyMs: Double,
      ackMs: Double, batchIds: Seq[Long], ok: Boolean)
  final case class Drain(windows: Seq[Long], points: Int, ms: Double)

  /** Deterministic points: per (window, host) a level drawn from the
    * seed, and evenly spaced samples around it inside the window. */
  final class Gen(seed: Long) {
    def window(w: Long, perHost: Int): Seq[String] = {
      val out = new ArrayBuffer[String](Hosts * perHost)
      val stepNs = WindowS * 1000000000L / perHost
      val baseNs = bucketS(w) * 1000000000L
      for (h <- 0 until Hosts) {
        val rng = new java.util.SplittableRandom(seed * 1000003L + w * 131L + h)
        val level = 20.0 + rng.nextDouble() * 80.0
        for (j <- 0 until perHost) {
          val v = math.round((level + (rng.nextDouble() - 0.5) * 20.0) * 100) / 100.0
          out += s"cpu,host=h$h usage=$v ${baseNs + j * stepNs + rng.nextLong(stepNs)}"
        }
      }
      out.toSeq
    }

    def windows(first: Long, n: Int, perHost: Int): Seq[String] =
      (0 until n).flatMap(i => window(first + i, perHost))
  }
}
