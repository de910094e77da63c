package taskbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkEntry

/** A rotation of `SparkEntry` queries over `events`, one query run per
  * op. The set-up runs the rotation's first query; the measured window
  * runs whole rotations in an order drawn from the seed. Each op is
  * timed in three sequential phases: build (the query function, including
  * any eager jobs it runs), plan (optimisation and physical planning of
  * the returned frame) and execute (the executed plan run to completion,
  * every output row hashed, so Catalyst cannot prune what the query
  * declares). */
final class BatchWorkload(cfg: Config, rotation: Seq[String]) extends Workload {
  import BatchWorkload._
  import Tracer._

  private var spark: SparkSession = _
  private var opSeq = 0
  private val tracer = new Tracer
  private val traced = ArrayBuffer.empty[(Op, Map[String, Any])]
  private val untraced = ArrayBuffer.empty[Op]
  private val order = new scala.util.Random(cfg.seed).shuffle(rotation)

  def setUp(s: SparkSession): Seq[(String, Any)] = {
    spark = s
    val op = runOp(rotation.head)
    report(op, "setup")
    Seq("first_op" -> op.query, "first_op_ms" -> op.ms, "first_op_ok" -> op.error.isEmpty)
  }

  def tearDown(): Unit = ()

  /** Writes each oracle-checked query's output for the DuckDB comparison,
    * and runs the value cross-check of the queries whose oracle is
    * generated from their own fitted model. */
  def check(): Seq[Map[String, Any]] = rotation.map { name =>
    try crossChecks.get(name) match {
      case Some(cc) =>
        Map("query" -> name, "kind" -> "crosscheck", "ok" -> cc(spark, cfg.dataDir))
      case None =>
        val path = s"${cfg.outDir}/check/$name"
        SparkEntry.queries(name)(spark, cfg.dataDir).write.mode("overwrite").parquet(path)
        Map("query" -> name, "kind" -> "oracle", "path" -> path,
          "sql" -> SparkEntry.oracleSql(name))
    } catch {
      case NonFatal(e) => Map("query" -> name, "kind" -> "error", "ok" -> false,
        "error" -> String.valueOf(e.getMessage).take(500))
    } finally release()
  }

  /** Whole rotations until `seconds` have passed, and at least two, so a
    * rotation that outlasts the window does not halve the samples of the
    * percentiles. In the traced run every other rotation is traced, so
    * each query has traced and untraced ops and their difference is the
    * tracing overhead. */
  def measure(): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var rotations = 0
    var ops = 0
    while (rotations < 2 || elapsed < cfg.seconds || (cfg.trace && rotations % 2 == 1)) {
      val traceThis = cfg.trace && rotations % 2 == 1
      val sc = spark.sparkContext
      if (traceThis) sc.addSparkListener(tracer)
      val batch = order.map(runOp)
      if (traceThis) detach(sc, tracer)
      batch.foreach { op =>
        report(op, if (traceThis) "traced" else "timed")
        if (traceThis) traced += (op -> spans(op)) else untraced += op
      }
      ops += batch.size
      rotations += 1
    }
    val window = elapsed
    Seq("window_s" -> window, "rotations" -> rotations, "ops" -> ops,
      "input_rows_per_rotation" -> rotation.size * graft.Graft.events(spark, cfg.dataDir).count())
  }

  def traceSummary(): Seq[(String, Any)] = {
    val ops = traced.map(_._1).toSeq
    def per(f: Op => Double) = mean(ops.map(f))
    val layers = ops.map(op => op -> tracer.layers(tracer.jobsOf(op.tag))).toMap
    val buildJobs = ops.map(op => op -> tracer.jobsOf(op.tag).filter(_.phase == "build")).toMap
    val coverage = ops.map(op => (op.buildMs + op.planMs + op.execMs) / op.ms)
    // tracing overhead: per query, traced mean over untraced mean
    val byQuery = untraced.groupBy(_.query).map { case (q, xs) => q -> mean(xs.map(_.ms).toSeq) }
    val ratios = ops.flatMap(op => byQuery.get(op.query).map(u => op.ms / u))
    writeTrace(cfg.outDir + "/trace.json", traced.toSeq.map(_._2))
    Seq(
      "build.ms" -> per(_.buildMs),
      "build.jobs" -> mean(ops.map(op => buildJobs(op).size.toDouble)),
      "build.driver_ms" -> mean(ops.map { op =>
        val jobMs = unionMs(buildJobs(op).map(j => (j.submitMs, j.endMs)))
        math.max(0.0, op.buildMs - jobMs)
      }),
      "catalyst.plan_ms" -> per(_.catalystMs),
      "catalyst.plan_nodes" -> per(_.planNodes.toDouble),
      "scheduler.jobs" -> mean(ops.map(layers(_).jobs.toDouble)),
      "scheduler.tasks" -> mean(ops.map(layers(_).tasks.toDouble)),
      "scheduler.delay_ms" -> mean(ops.map(layers(_).delayMs)),
      "executor.task_ms" -> mean(ops.map(layers(_).taskMs)),
      "executor.cores_busy" -> mean(ops.map(op => layers(op).taskMs / op.ms)),
      "shuffle.write_mb" -> mean(ops.map(layers(_).shuffleWriteMb)),
      "shuffle.spill_mb" -> mean(ops.map(layers(_).spillMb)),
      "trace.coverage" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      "trace.overhead_pct" -> (if (ratios.isEmpty) 0.0 else (mean(ratios) - 1) * 100),
      "trace.ops" -> ops.size)
  }

  private def spans(op: Op): Map[String, Any] = {
    val js = tracer.jobsOf(op.tag)
    def phase(name: String, start: Double, dur: Double) = Map[String, Any](
      "name" -> name, "start_ms" -> start, "dur_ms" -> dur,
      "children" -> tracer.jobSpans(js.filter(_.phase == name), op.epochMs))
    Map("name" -> s"op ${op.tag} ${op.query}", "start_ms" -> 0.0, "dur_ms" -> op.ms,
      "plan_nodes" -> op.planNodes, "catalyst_ms" -> op.catalystMs, "rows" -> op.rows,
      "children" -> Seq(
        phase("build", 0.0, op.buildMs),
        phase("plan", op.buildMs, op.planMs),
        phase("execute", op.buildMs + op.planMs, op.execMs)))
  }

  private def report(op: Op, phase: String): Unit =
    Main.emit("op", "phase" -> phase, "query" -> op.query, "ms" -> op.ms,
      "build_ms" -> op.buildMs, "plan_ms" -> op.planMs, "exec_ms" -> op.execMs,
      "rows" -> op.rows, "ok" -> op.error.isEmpty, "error" -> op.error)

  /** Drop the blocks a query checkpointed for its own use, so finished
    * queries do not eat the storage memory of the next one. */
  private def release(): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))

  private def runOp(name: String): Op = {
    opSeq += 1
    val tag = opSeq.toString
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, tag)
    val epochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    def ms(a: Long, b: Long) = (b - a) / 1e6
    try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = SparkEntry.queries(name)(spark, cfg.dataDir)
      t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "plan")
      val qe = df.queryExecution
      qe.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "execute")
      val rows = SQLExecution.withNewExecutionId(qe, Some(s"taskbench $name"))(consume(qe.toRdd))
      val t3 = System.nanoTime()
      val catalyst = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      Op(tag, name, epochMs, ms(t0, t3), ms(t0, t1), ms(t1, t2), ms(t2, t3), rows, catalyst,
        planNodes(qe.executedPlan), None)
    } catch {
      case NonFatal(e) =>
        val t3 = System.nanoTime()
        Op(tag, name, epochMs, ms(t0, t3), ms(t0, t1), 0, 0, 0, 0, 0,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
    } finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
      release()
    }
  }
}

object BatchWorkload {
  val batchTasks: Seq[String] = Seq(
    "q_mean_hour", "q_median_day", "q_percentile90_day", "q_top3", "q_derivative",
    "q_moving_average", "q_window_sliding", "q_window_aligned", "q_batch_periods",
    "q_join_tolerance", "q_alert_state_changes", "q_deadman", "q_fill_linear",
    "q_state_duration", "q_holt_winters")

  /** Queries whose DuckDB oracle is generated from the model they fit;
    * their values are checked against serial driver arithmetic instead. */
  val crossChecks: Map[String, (SparkSession, String) => Boolean] = Map(
    "q_holt_winters" -> graft.queries.EventQueries.holtWintersCrossCheck)

  final case class Op(tag: String, query: String, epochMs: Long, ms: Double, buildMs: Double,
      planMs: Double, execMs: Double, rows: Long, catalystMs: Double, planNodes: Int,
      error: Option[String])

  /** Run `rdd` to completion, hashing every row; returns the row count. */
  def consume(rdd: RDD[InternalRow]): Long = {
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += it.next().hashCode(); n += 1 }
      Iterator.single((n, h))
    }.collect()
    parts.map(_._1).sum
  }

  /** Node count of the executed plan, final adaptive plan included. */
  def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => 1 + planNodes(q.plan)
    case other => 1 + other.children.map(planNodes).sum + other.subqueries.map(planNodes).sum
  }

  def writeTrace(path: String, ops: Seq[Map[String, Any]]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.obj(Seq("ops" -> ops)) + "\n")
}
