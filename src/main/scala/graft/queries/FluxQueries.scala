package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tick.{FluxCron, FluxSchedule, FluxTasks}

/** Oracle queries for the Flux-task lifecycle engine (graft.tick.
  * FluxTasks / FluxSchedule / FluxCron — reference
  * task/backend/scheduler/treescheduler.go + task/kv/task.go +
  * task/backend/executor/executor.go).
  *
  * q_fluxtask_schedule checks the schedule fold alone — every fire a
  * TreeScheduler would emit for a task table over a horizon, including
  * the `@every` Go-zero-time alignment and cron catch-up. The oracle
  * restates the three schedule families as pure DuckDB arithmetic.
  *
  * q_fluxtask_runs drives the WHOLE system — service, coordinator,
  * scheduler, executor run-FSM — inside the gate with a deterministic
  * success/failure rule, and checks the per-task terminal state
  * (forward-only latest* clocks, lastRunStatus, the second-to-last-log
  * lastRunError law of kv/task.go:1127-1138).
  */
object FluxQueries {

  private val HorizonS = 7200L

  /** Task table derived from `nation` — three schedule families:
    *  - key%3==0: `@every (60*(1+key%4))s`, unaligned start → exercises
    *    the Go Truncate alignment;
    *  - key%3==1: `*&#47;K * * * * *` second-step crons, K | 60;
    *  - key%3==2: `S M * * * *` hourly crons.
    * Start (createdAt = lastScheduled) staggered per key; offset key%3. */
  private def taskDefs(s: SparkSession, dir: String) = {
    import s.implicits._
    graft.Graft.table(s, dir, "nation")
      .select(
        col("n_nationkey").cast("long").as("task_id"),
        when(col("n_nationkey") % 3 === 0,
          concat(lit("@every "),
            (lit(60) * (lit(1) + col("n_nationkey") % 4)).cast("string"), lit("s")))
          .when(col("n_nationkey") % 3 === 1,
            concat(lit("*/"),
              element_at(array(lit(10), lit(15), lit(20), lit(30)),
                (col("n_nationkey") % 4 + 1).cast("int")).cast("string"),
              lit(" * * * * *")))
          .otherwise(concat(
            (col("n_nationkey") % 60).cast("string"), lit(" "),
            ((col("n_nationkey") * 7) % 60).cast("string"), lit(" * * * *")))
          .as("cron"),
        (col("n_nationkey") % 3).cast("long").as("offset_s"),
        (lit(1000L) + col("n_nationkey") * 77L).as("last_scheduled_s"))
      .as[FluxSchedule.FluxTaskDef]
  }

  def fluxtaskScheduleQ(s: SparkSession, dir: String): DataFrame =
    FluxSchedule.fireTimes(taskDefs(s, dir), HorizonS)
      .orderBy("task_id", "scheduled_for_s")

  val fluxtaskScheduleSql: String =
    s"""WITH t AS (
       SELECT CAST(n_nationkey AS BIGINT) AS task_id,
              n_nationkey % 3 AS fam,
              CAST(60 * (1 + n_nationkey % 4) AS BIGINT) AS every_s,
              CAST([10,15,20,30][(n_nationkey % 4) + 1] AS BIGINT) AS step_s,
              CAST((n_nationkey % 60) + ((n_nationkey * 7) % 60) * 60 AS BIGINT) AS hourly_base,
              CAST(n_nationkey % 3 AS BIGINT) AS offset_s,
              CAST(1000 + n_nationkey * 77 AS BIGINT) AS last_s
       FROM nation),
       every_fires AS (
       SELECT task_id, offset_s,
              CAST(unnest(range(aligned + every_s, $HorizonS - offset_s + 1, every_s)) AS BIGINT) AS f
       FROM (SELECT *, ((last_s + ${FluxCron.GoZeroOffsetSec}) // every_s) * every_s
                       - ${FluxCron.GoZeroOffsetSec} AS aligned
             FROM t WHERE fam = 0)),
       step_fires AS (
       SELECT task_id, offset_s,
              CAST(unnest(range((last_s // step_s + 1) * step_s,
                                $HorizonS - offset_s + 1, step_s)) AS BIGINT) AS f
       FROM t WHERE fam = 1),
       hourly_fires AS (
       SELECT task_id, offset_s, CAST(h * 3600 + hourly_base AS BIGINT) AS f
       FROM t, (SELECT unnest(range(0, ${HorizonS / 3600 + 1})) AS h)
       WHERE fam = 2 AND h * 3600 + hourly_base > last_s
         AND h * 3600 + hourly_base + offset_s <= $HorizonS)
       SELECT task_id, f AS scheduled_for_s, f + offset_s AS run_at_s
       FROM (SELECT * FROM every_fires UNION ALL
             SELECT * FROM step_fires UNION ALL
             SELECT * FROM hourly_fires)
       ORDER BY task_id, scheduled_for_s""".replaceAll("\\s+", " ")

  /** Deterministic run outcome: md5("taskId:scheduledFor") 60-bit
    * prefix % 5 == 0 → failure (same arithmetic on both engines). */
  private def runFails(taskId: Long, scheduledForS: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$taskId:$scheduledForS".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 5 == 0
  }

  def fluxtaskRunsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val defs = taskDefs(s, dir).collect().sortBy(_.task_id) // 25 control-plane rows
    var now = 0L
    val sys = new FluxTasks.FluxTaskSystem(
      () => now,
      (task, scheduledFor) =>
        // task ids are assigned in creation order: nationkey + 1
        if (runFails(task.id - 1, scheduledFor)) Left(s"query failed at $scheduledFor")
        else Right(()))
    for (d <- defs) {
      now = d.last_scheduled_s // createdAt = latestCompleted = latestScheduled
      sys.createTask(FluxTasks.TaskCreate(
        name = s"task${d.task_id}", flux = s"flux${d.task_id}",
        cron = d.cron, offsetS = d.offset_s))
    }
    now = HorizonS
    sys.advanceTo(HorizonS)
    val rows = sys.service.findTasks().map { t =>
      (t.id - 1, t.latestCompletedS, t.latestScheduledS,
        t.latestSuccessS.getOrElse(0L), t.latestFailureS.getOrElse(0L),
        t.lastRunStatus, t.lastRunError)
    }
    rows.toDF("task_id", "latest_completed_s", "latest_scheduled_s",
        "latest_success_s", "latest_failure_s", "last_run_status",
        "last_run_error")
      .orderBy("task_id")
  }

  /** q_fluxtask_sql: the WHOLE flux-task SQL path inside the gate —
    * self-describing task scripts (`option task = {...}` headers parsed
    * by TaskOptions), scheduled through the real TreeScheduler fold,
    * each fire executing its task's SPARK SQL via FluxSql with the
    * reference's extern bindings (`:now` = the fire's logical time,
    * `:last_success` = the previous successful fire, NULL first) — so
    * every task computes incremental per-event-type count/sum windows
    * over `events`, gap-free. The oracle restates fires (the @every
    * alignment arithmetic) and windows (lag over fires) in DuckDB. */
  def fluxtaskSqlQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The ~22 fires each scan the same 3-column events projection; cache
    // it for the duration of this invocation (computed from parquet on
    // every call, released before returning — an intra-query reuse, guide
    // §5: the frame is re-read 22x and recomputing it dominates the fire).
    // At production scale the projection is the warehouse's events table —
    // the same table every incremental task reads.
    val ev = graft.Graft.events(s, dir)
      .select(timestamp_micros(expr("ts_ns DIV 1000")).as("ts"),
        col("event_type"), col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ev.createOrReplaceTempView("flux_gate_events")
    val types = Seq("click", "error", "purchase", "signup", "view")
    val keys = graft.Graft.table(s, dir, "region")
      .select(col("r_regionkey").cast("long")).as[Long].collect().sorted
    // 7-day horizon: ~22 fires across the five tasks — enough to exercise
    // every law the oracle checks (alignment arithmetic for all three
    // @every periods 1d/2d/3d, the NULL-then-set `:last_success` extern,
    // gap-free adjacent windows) at ~1/3 the wall clock of the original
    // 20-day horizon (65 sequential real-SQL fires, 11% of the whole gate)
    val base = 1704067200L    // 2024-01-01T00:00:00Z (the events epoch)
    val horizon = 1704672000L // 2024-01-08T00:00:00Z

    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    // Overlap fires the way the REFERENCE executor does (guide §2.6 +
    // executor.go's hashed worker pool): scheduled fires dispatch to a
    // per-task SERIAL pool, so each run binds `:now`/`:last_success`,
    // drains its frame, and completes its whole run-FSM transition
    // (finishRun's forward-only latest* fold) strictly before the SAME
    // task's next fire binds — while different tasks' fires overlap. A
    // drain failure is therefore the run's own failure: the runner
    // returns Left and the FSM records `query error` without advancing
    // latestSuccess, exactly the reference's ErrQueryError path
    // (FluxTaskSpec pins it; r21 submitted the drain asynchronously and
    // returned Right early, so a collect-time failure recorded a
    // successful run). Rows are identical to the sequential walk — the
    // final orderBy is a total order over the unique fire keys.
    val pool = new FluxTasks.TaskSerialPool(8)
    var now = 0L
    val sys = new FluxTasks.FluxTaskSystem(
      () => now,
      graft.tick.FluxSql.sqlQueryRunner(s, (task, sf, df) => {
        val r = df.collect().head
        out.synchronized { out += ((task.id - 1, sf, r.getLong(0), r.getDouble(1))) }
      }),
      workerPool = Some(pool))
    for (k <- keys) {
      now = base
      sys.createTask(graft.tick.TaskOptions.taskCreateFromScript(
        s"""option task = {name: "etl$k", every: ${86400 * (1 + k % 3)}s, offset: ${k * 60}s}
           |SELECT count(*) AS n, coalesce(sum(value), 0.0) AS s
           |FROM flux_gate_events
           |WHERE event_type = '${types(k.toInt)}'
           |  AND ts > coalesce(:last_success, timestamp'1970-01-01')
           |  AND ts <= :now""".stripMargin))
    }
    now = horizon
    sys.advanceTo(horizon)
    try pool.awaitAll() finally ev.unpersist(false)
    out.toSeq.toDF("task_id", "scheduled_for_s", "n", "s")
      .orderBy("task_id", "scheduled_for_s")
  }

  val fluxtaskSqlSql: String =
    s"""WITH t AS (
       SELECT CAST(r_regionkey AS BIGINT) AS task_id,
              CAST(86400 * (1 + r_regionkey % 3) AS BIGINT) AS every_s,
              CAST(r_regionkey * 60 AS BIGINT) AS offset_s,
              ['click','error','purchase','signup','view'][r_regionkey + 1] AS et
       FROM region),
       f AS (
       SELECT task_id, et,
              CAST(unnest(range(aligned + every_s, 1704672000 - offset_s + 1, every_s)) AS BIGINT) AS fire
       FROM (SELECT *, ((1704067200 + ${FluxCron.GoZeroOffsetSec}) // every_s) * every_s
                       - ${FluxCron.GoZeroOffsetSec} AS aligned
             FROM t)),
       w AS (
       SELECT task_id, et, fire,
              lag(fire, 1, CAST(0 AS BIGINT)) OVER (PARTITION BY task_id ORDER BY fire) AS prev
       FROM f)
       SELECT w.task_id, w.fire AS scheduled_for_s,
              count(e.ts) AS n,
              coalesce(sum(e.value), 0.0) AS s
       FROM w LEFT JOIN events e
         ON e.event_type = w.et
        AND epoch_us(e.ts) > w.prev * 1000000
        AND epoch_us(e.ts) <= w.fire * 1000000
       GROUP BY 1, 2 ORDER BY 1, 2""".replaceAll("\\s+", " ")

  val fluxtaskRunsSql: String = {
    val fires = fluxtaskScheduleSql.stripSuffix(" ORDER BY task_id, scheduled_for_s")
    s"""WITH fires AS MATERIALIZED ($fires),
       judged AS (
       SELECT task_id, scheduled_for_s,
              ('0x' || substr(md5(CAST(task_id AS VARCHAR) || ':' ||
                 CAST(scheduled_for_s AS VARCHAR)), 1, 15))::BIGINT % 5 = 0 AS failed
       FROM fires)
       SELECT task_id,
              max(scheduled_for_s) AS latest_completed_s,
              max(scheduled_for_s) AS latest_scheduled_s,
              coalesce(max(CASE WHEN NOT failed THEN scheduled_for_s END), 0) AS latest_success_s,
              coalesce(max(CASE WHEN failed THEN scheduled_for_s END), 0) AS latest_failure_s,
              CASE WHEN arg_max(failed, scheduled_for_s) THEN 'failed' ELSE 'success' END AS last_run_status,
              CASE WHEN arg_max(failed, scheduled_for_s) THEN 'Completed(failed)' ELSE '' END AS last_run_error
       FROM judged GROUP BY task_id ORDER BY task_id""".replaceAll("\\s+", " ")
  }
}
