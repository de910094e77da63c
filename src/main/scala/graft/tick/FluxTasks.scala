package graft.tick

import scala.collection.mutable

/** The Flux-task lifecycle engine: the embedded 1.6+ task system's
  * semantics — task store, run state machine, deterministic scheduler
  * fold, executor, coordinator — extracted from the reference's I/O
  * shells as a plain library.
  *
  * Reference surfaces matched (semantics, not transport):
  *  - task/kv/task.go — task + run storage laws (create/update/delete,
  *    run create/start/finish/cancel/retry/force, run logs, the
  *    forward-only latest* clocks, the manual-runs queue).
  *  - task/backend/scheduler/treescheduler.go:63-418 — the priority
  *    scheduler: per-task cron/every with catch-up, (when,id)-ordered
  *    firing, offset eligibility, checkpointed LastScheduled.
  *  - task/backend/executor/executor.go:180-515 — the run FSM:
  *    scheduled → started → success/failed/canceled with the exact run
  *    log lines and FinishRun bookkeeping.
  *  - task/backend/coordinator/coordinator.go — lifecycle notifications
  *    (created/updated/deleted → schedule/release) and manual
  *    runs (RunRetried/RunForced).
  *  - services/fluxtask/service.go:1-154 — the composition root; here
  *    [[FluxTaskSystem]], with the HTTP/storage daemons dropped.
  *
  * All times are UTC unix seconds. The scheduler here is deterministic
  * and synchronous: [[FluxScheduler.advanceTo]] fires every due item in
  * (when, id) order, which is exactly the btree walk order of the
  * reference's main loop; the reference's worker pool adds concurrency
  * per HASHED task id but preserves per-id serial order — the observable
  * law the tests pin (scheduler_test.go:25-44,257-412).
  *
  * The control plane (this file) is driver-side by design — thousands of
  * tasks, not data-scale. The DATA-scale surface is
  * [[FluxSchedule.fireTimes]]: the catch-up fold expanded per task with
  * no shuffle (each task's fire sequence is independent), which is what
  * q_fluxtask_schedule oracle-checks.
  */
object FluxTasks {

  object RunStatus {
    val Scheduled = "scheduled"
    val Started = "started"
    val Success = "success"
    val Failed = "failed"
    val Canceled = "canceled"
  }

  object TaskStatus {
    val Active = "active"
    val Inactive = "inactive"
  }

  final case class RunLog(runId: Long, timeS: Long, message: String)

  /** taskmodel.Run — scheduledFor is the logical "now" of the run,
    * runAt = scheduledFor + offset (eligibility time). */
  final case class Run(
      id: Long,
      taskId: Long,
      status: String,
      scheduledForS: Long,
      runAtS: Long,
      startedAtS: Option[Long] = None,
      finishedAtS: Option[Long] = None,
      requestedAtS: Option[Long] = None,
      logs: Vector[RunLog] = Vector.empty)

  /** taskmodel.Task. `every`/`cron` are the raw schedule strings (one
    * must be set); `latestCompleted`/`latestScheduled` are forward-only
    * clocks (kv/task.go:440-476). */
  final case class Task(
      id: Long,
      name: String,
      status: String,
      flux: String,
      every: String,
      cron: String,
      offsetS: Long,
      createdAtS: Long,
      updatedAtS: Long,
      latestCompletedS: Long,
      latestScheduledS: Long,
      latestSuccessS: Option[Long] = None,
      latestFailureS: Option[Long] = None,
      lastRunStatus: String = "",
      lastRunError: String = "") {

    /** taskmodel.Task.EffectiveCron. */
    def effectiveCron: String =
      if (cron.nonEmpty) cron
      else if (every.nonEmpty) s"@every $every"
      else ""
  }

  final case class TaskCreate(
      name: String,
      flux: String = "",
      every: String = "",
      cron: String = "",
      offsetS: Long = 0L,
      status: String = "")

  final case class TaskUpdate(
      flux: Option[String] = None,
      status: Option[String] = None,
      every: Option[String] = None,
      cron: Option[String] = None,
      offsetS: Option[Long] = None,
      latestCompletedS: Option[Long] = None,
      latestScheduledS: Option[Long] = None,
      latestSuccessS: Option[Long] = None,
      latestFailureS: Option[Long] = None,
      lastRunStatus: Option[String] = None,
      lastRunError: Option[String] = None)

  /** taskmodel.TaskFilter (the kv-relevant fields). */
  final case class TaskFilter(
      name: Option[String] = None,
      status: Option[String] = None,
      after: Option[Long] = None,
      limit: Int = 0)

  /** taskmodel.RunFilter: strict (afterTime, beforeTime) bounds on
    * scheduledFor; beforeTime defaults to now. */
  final case class RunFilter(
      afterTimeS: Option[Long] = None,
      beforeTimeS: Option[Long] = None,
      limit: Int = 0)

  class TaskNotFound(id: Long) extends NoSuchElementException(s"task $id not found")
  class RunNotFound extends NoSuchElementException("run not found")
  class RunAlreadyQueued extends IllegalStateException(
    "run already queued for this time")

  /** The reference executor's worker-pool seam (executor.go:47-66): run
    * executions CONCURRENTLY across tasks but strictly serially per task
    * id — the observable law of the reference's hashed worker pool (see
    * the treescheduler note in the object doc). A caller wires it into
    * [[FluxTaskSystem]] (`workerPool`) when it wants the drains of
    * different tasks to overlap WITHOUT changing run-FSM semantics: each
    * execution completes its whole FSM transition — including finishRun's
    * forward-only latest* fold — before the SAME task's next fire binds
    * `:last_success`. An execution that THROWS (the reference's
    * unrecovered panic) is remembered and rethrown at [[awaitAll]]; later
    * fires of the task still run, matching the scheduler's onErr law
    * (executor errors do not stop the schedule).
    *
    * The pool is one-shot: [[awaitAll]] shuts its threads down, and a
    * [[submit]] after that throws `RejectedExecutionException`. */
  final class TaskSerialPool(threads: Int) {
    require(threads > 0, "worker pool needs at least one thread")
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    private val tails = mutable.Map.empty[Long, java.util.concurrent.CompletableFuture[Void]]
    private val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    /** Enqueue `body` to run after every previously-submitted body for the
      * same task id (strict per-id serial order, cross-id concurrent).
      * Single-threaded caller contract: the deterministic scheduler. */
    def submit(taskId: Long)(body: => Unit): Unit = {
      val prev = tails.getOrElse(taskId,
        java.util.concurrent.CompletableFuture.completedFuture(null: Void))
      val next = prev.thenRunAsync(() => body, pool)
      // keep the chain alive past a thrown body so later fires still run;
      // remember every failure, in completion order, for awaitAll
      tails(taskId) = next.exceptionally { e =>
        failures.add(
          if (e.isInstanceOf[java.util.concurrent.CompletionException] && e.getCause != null)
            e.getCause else e)
        null
      }
    }

    /** Block until every submitted execution finished, release the
      * threads, and rethrow the first execution failure (if any) with
      * every later failure attached via `addSuppressed`. */
    def awaitAll(): Unit = {
      try tails.values.foreach(_.join())
      finally pool.shutdown()
      val first = failures.poll()
      if (first != null) {
        failures.forEach(e => if (e ne first) first.addSuppressed(e))
        throw first
      }
    }
  }

  /** task/kv/task.go Service — the task + run store, in memory. The kv
    * schema (taskBucket, taskRunBucket with `<task>/<run>` keys, the
    * `<task>/manualRuns` list) collapses to three maps; every method
    * reproduces the corresponding kv transaction's observable effect.
    * Methods are `synchronized` (each is one short kv transaction) so a
    * [[TaskSerialPool]]-driven executor can fold concurrent runs of
    * DIFFERENT tasks into the store safely; per-task sequencing is the
    * pool's job, not the lock's.
    *
    * The control plane (create/update/delete of tasks) must have a
    * single writer that does not edit a task while its pooled runs are in
    * flight: a pooled run reads its task and then runs the query outside
    * the lock, so a concurrent edit could land between the two. */
  final class FluxTaskService(clock: () => Long) {
    private var nextId = 1L
    private val tasks = mutable.LinkedHashMap[Long, Task]()
    // currently-running runs per task (kv "<taskID>/<runID>" keys)
    private val runs = mutable.LinkedHashMap[Long, mutable.LinkedHashMap[Long, Run]]()
    // manual-runs queue per task (kv "<taskID>/manualRuns")
    private val manual = mutable.LinkedHashMap[Long, Vector[Run]]()

    private def genId(): Long = { val i = nextId; nextId += 1; i }

    def createTask(tc: TaskCreate): Task = this.synchronized {
      require(tc.every.nonEmpty || tc.cron.nonEmpty, "invalid cron or every")
      val now = clock()
      val t = Task(
        id = genId(),
        name = tc.name,
        status = if (tc.status.isEmpty) TaskStatus.Active else tc.status,
        flux = tc.flux,
        every = tc.every,
        cron = tc.cron,
        offsetS = tc.offsetS,
        createdAtS = now,
        updatedAtS = 0L,
        latestCompletedS = now,
        latestScheduledS = now)
      tasks(t.id) = t
      t
    }

    def findTaskByID(id: Long): Task = this.synchronized {
      tasks.getOrElse(id, throw new TaskNotFound(id))
    }

    def findTasks(): Seq[Task] = this.synchronized { tasks.values.toSeq }

    /** kv/task.go:187-292 findTasks: page-size laws (negative → too
      * small, > 500 → too large, 0 → default 100), `after`-id paging on
      * the id-ordered store, exact name/status matching, stop at limit. */
    def findTasks(filter: TaskFilter): Seq[Task] = this.synchronized {
      if (filter.limit < 0) fail("page size too small")
      if (filter.limit > 500) fail("page size too large")
      val limit = if (filter.limit == 0) 100 else filter.limit
      tasks.values.toSeq
        .filter(t => filter.after.forall(t.id > _))
        .filter(t => filter.name.forall(_ == t.name))
        .filter(t => filter.status.forall(_ == t.status))
        .take(limit)
    }

    /** kv/task.go:634-689 findRuns: page-size laws, then the MANUAL
      * queue first and the running set second, keeping runs whose
      * scheduledFor is strictly inside (afterTime, beforeTime) —
      * beforeTime defaults to now — up to the limit. */
    def findRuns(taskId: Long, filter: RunFilter = RunFilter()): Seq[Run] = this.synchronized {
      if (filter.limit < 0 || filter.limit > 500) fail("run limit out of bounds")
      val limit = if (filter.limit == 0) 100 else filter.limit
      val before = filter.beforeTimeS.getOrElse(clock())
      val after = filter.afterTimeS.getOrElse(Long.MinValue)
      (manualRuns(taskId) ++ currentlyRunning(taskId))
        .filter(r => r.scheduledForS > after && r.scheduledForS < before)
        .take(limit)
    }

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(msg)

    /** kv/task.go:383-511 updateTask — including the inactive→active
      * reset of latestCompleted/latestScheduled to now and the
      * forward-only latest* updates. */
    def updateTask(id: Long, upd: TaskUpdate): Task = this.synchronized {
      var t = findTaskByID(id)
      val now = clock()
      upd.flux.foreach { f => t = t.copy(flux = f, updatedAtS = now) }
      upd.every.foreach { e => t = t.copy(every = e, updatedAtS = now) }
      upd.cron.foreach { c => t = t.copy(cron = c, updatedAtS = now) }
      upd.offsetS.foreach { o => t = t.copy(offsetS = o, updatedAtS = now) }
      upd.status.foreach { st =>
        if (t.status != st) {
          t = t.copy(status = st, updatedAtS = now)
          // transitioning inactive→active skips catch-up over the gap
          if (st == TaskStatus.Active)
            t = t.copy(latestCompletedS = now, latestScheduledS = now)
        }
      }
      upd.latestCompletedS.foreach { v =>
        if (v > t.latestCompletedS) t = t.copy(latestCompletedS = v)
      }
      upd.latestScheduledS.foreach { v =>
        if (v > t.latestScheduledS) t = t.copy(latestScheduledS = v)
      }
      upd.latestSuccessS.foreach { v =>
        if (t.latestSuccessS.forall(v > _)) t = t.copy(latestSuccessS = Some(v))
      }
      upd.latestFailureS.foreach { v =>
        if (t.latestFailureS.forall(v > _)) t = t.copy(latestFailureS = Some(v))
      }
      upd.lastRunStatus.foreach { st =>
        t = t.copy(lastRunStatus = st,
          lastRunError =
            if (st == RunStatus.Failed) upd.lastRunError.getOrElse("") else "")
      }
      tasks(id) = t
      t
    }

    def deleteTask(id: Long): Unit = this.synchronized {
      tasks.remove(id).getOrElse(throw new TaskNotFound(id))
      runs.remove(id)
      manual.remove(id)
    }

    // ------------------------------------------------ run control plane

    /** kv/task.go:913 createRun: a `scheduled` run in the running set. */
    def createRun(taskId: Long, scheduledForS: Long, runAtS: Long): Run = this.synchronized {
      findTaskByID(taskId)
      val r = Run(genId(), taskId, RunStatus.Scheduled, scheduledForS, runAtS)
      runs.getOrElseUpdate(taskId, mutable.LinkedHashMap())(r.id) = r
      r
    }

    def currentlyRunning(taskId: Long): Seq[Run] = this.synchronized {
      runs.get(taskId).map(_.values.toSeq).getOrElse(Nil)
    }

    def manualRuns(taskId: Long): Seq[Run] = this.synchronized { manual.getOrElse(taskId, Nil) }

    def findRunByID(taskId: Long, runId: Long): Run = this.synchronized {
      runs.get(taskId).flatMap(_.get(runId)).getOrElse(throw new RunNotFound)
    }

    /** kv/task.go:854 forceRun: queue a manual run at `scheduledForS`;
      * a second force at the same time is rejected. */
    def forceRun(taskId: Long, scheduledForS: Long): Run = this.synchronized {
      findTaskByID(taskId)
      val r = Run(genId(), taskId, RunStatus.Scheduled, scheduledForS,
        runAtS = scheduledForS, requestedAtS = Some(clock()))
      val q = manual.getOrElse(taskId, Vector.empty)
      if (q.exists(_.scheduledForS == scheduledForS)) throw new RunAlreadyQueued
      manual(taskId) = q :+ r
      r
    }

    /** kv/task.go:787 retryRun: clone a (finished or running) run back
      * into the manual queue as a fresh `scheduled` run. */
    def retryRun(taskId: Long, runId: Long): Run = this.synchronized {
      val orig = findRunByID(taskId, runId)
      val r = orig.copy(id = genId(), status = RunStatus.Scheduled,
        startedAtS = None, finishedAtS = None, requestedAtS = None)
      manual(taskId) = manual.getOrElse(taskId, Vector.empty) :+ r
      r
    }

    /** kv/task.go:1038 startManualRun: move a run from the manual queue
      * into the running set. */
    def startManualRun(taskId: Long, runId: Long): Run = this.synchronized {
      val q = manual.getOrElse(taskId, Vector.empty)
      val run = q.find(_.id == runId).getOrElse(throw new RunNotFound)
      manual(taskId) = q.filterNot(_.id == runId)
      runs.getOrElseUpdate(taskId, mutable.LinkedHashMap())(runId) = run
      run
    }

    /** kv/task.go:1106 finishRun: fold the run's outcome into the task
      * (forward-only latest* clocks; lastRunError is the SECOND-to-last
      * log line per the reference's own composition — see
      * kv/task.go:1127-1138) and drop it from the running set. */
    def finishRun(taskId: Long, runId: Long): Run = this.synchronized {
      val r = findRunByID(taskId, runId)
      val failed = r.status == RunStatus.Failed
      updateTask(taskId, TaskUpdate(
        latestCompletedS = Some(r.scheduledForS),
        latestSuccessS = if (failed) None else Some(r.scheduledForS),
        latestFailureS = if (failed) Some(r.scheduledForS) else None,
        lastRunStatus = Some(r.status),
        lastRunError =
          if (failed && r.logs.length > 1) Some(r.logs(r.logs.length - 2).message)
          else if (failed && r.logs.nonEmpty) Some(r.logs.last.message)
          else None))
      runs(taskId).remove(runId)
      r
    }

    /** kv/task.go:1171 updateRunState: started stamps startedAt;
      * success/failed/canceled stamp finishedAt. */
    def updateRunState(taskId: Long, runId: Long, whenS: Long, state: String): Unit = this.synchronized {
      val r = findRunByID(taskId, runId)
      val r2 = state match {
        case RunStatus.Started => r.copy(status = state, startedAtS = Some(whenS))
        case RunStatus.Success | RunStatus.Failed | RunStatus.Canceled =>
          r.copy(status = state, finishedAtS = Some(whenS))
        case _ => r.copy(status = state)
      }
      runs(taskId)(runId) = r2
    }

    def addRunLog(taskId: Long, runId: Long, whenS: Long, message: String): Unit = this.synchronized {
      val r = findRunByID(taskId, runId)
      runs(taskId)(runId) = r.copy(logs = r.logs :+ RunLog(runId, whenS, message))
    }

    /** kv/task.go:743 cancelRun: status only (the executor's FSM adds
      * the canceled finishedAt stamp through updateRunState). */
    def cancelRun(taskId: Long, runId: Long): Unit = this.synchronized {
      val r = findRunByID(taskId, runId)
      runs(taskId)(runId) = r.copy(status = RunStatus.Canceled)
    }

    /** backend/schedulable_task_service.go:31 UpdateLastScheduled. */
    def updateLastScheduled(taskId: Long, tS: Long): Unit = this.synchronized {
      updateTask(taskId, TaskUpdate(latestScheduledS = Some(tS)))
      ()
    }
  }

  /** coordinator.go:38-61 SchedulableTask: the task wrapped with its
    * parsed schedule and the catch-up start time. */
  final case class SchedulableTask(
      task: Task, schedule: FluxCron.Schedule, lastScheduledS: Long) {
    def id: Long = task.id
    def offsetS: Long = task.offsetS
  }

  /** coordinator.go:70-90 NewSchedulableTask: pick the catch-up start
    * (latestScheduled unless it trails latestCompleted), then align it
    * through NewSchedule. */
  def newSchedulableTask(task: Task): SchedulableTask = {
    require(task.cron.nonEmpty || task.every.nonEmpty, "invalid cron or every")
    val ts0 =
      if (task.latestScheduledS == 0L || task.latestScheduledS < task.latestCompletedS)
        task.latestCompletedS
      else task.latestScheduledS
    val (sch, ts) = FluxCron.newSchedule(task.effectiveCron, ts0)
    SchedulableTask(task, sch, ts)
  }

  /** The executor seam: run one scheduled invocation of a task.
    * Returns Right(()) on success, Left(message) on failure; a thrown
    * exception is the reference's worker panic (recovered and folded
    * into the run as a failure — executor.go:314-318's analog lives in
    * [[FluxExecutor.executeRun]]). */
  type QueryRunner = (Task, Long) => Either[String, Unit]

  /** executor.go:33 LimitFunc: None = run may proceed, Some(msg) = the
    * limit is reached (msg is the reference's error text). */
  type LimitFunc = (Task, Run) => Option[String]

  val noLimit: LimitFunc = (_, _) => None

  /** executor/limits.go:13-52 ConcurrencyLimit: rank the task's
    * currently-running runs by scheduledFor (stable — older first); a
    * run whose rank is at or past the task's concurrency is rejected
    * with the runs-in-front count, as is a run not yet in the list when
    * the list already exceeds the limit. `concurrencyOf` extracts the
    * task's declared concurrency (the reference parses it from the Flux
    * options; None = unlimited). */
  def concurrencyLimit(
      service: FluxTaskService,
      concurrencyOf: Task => Option[Int]): LimitFunc = (t, r) =>
    concurrencyOf(t).flatMap { limit =>
      val runs = service.currentlyRunning(t.id).sortBy(_.scheduledForS)
      def err(inFront: Int) = Some(
        s"could not execute task, concurrency limit reached, runs in front: $inFront")
      // short-circuit allow only under the limit (limits.go:31
      // `len(runs) < limit`): at exactly `limit` running runs, a run
      // not yet in the list must be rejected with "runs in front: 0"
      if (runs.length < limit) None
      else runs.indexWhere(_.id == r.id) match {
        case i if i >= limit => err(i - limit)
        case i if i >= 0 => None
        case _ => err(runs.length - limit)
      }
    }

  /** Raised by [[FluxExecutor.executeRun]] when the limit blocks a run:
    * the run stays in the running set with the "Task limit reached" log
    * line, resumable once capacity frees (the reference worker instead
    * sleeps and re-checks every second — a deterministic engine surfaces
    * the block to the caller, executor.go:367-385). */
  class RunLimited(val taskId: Long, val runId: Long, msg: String)
      extends IllegalStateException(msg)

  /** task/backend/executor/executor.go — the run FSM, synchronous.
    * Each execute() drives one run through
    * scheduled → started → success|failed and finishes it, emitting the
    * reference's exact run-log lines (start:407, finish:416-455). */
  final class FluxExecutor(
      service: FluxTaskService,
      runQuery: QueryRunner,
      clock: () => Long,
      onRunFinished: Run => Unit = _ => (),
      limit: LimitFunc = noLimit) {

    /** executor.go:180 Execute / :237 createRun + worker. */
    def execute(taskId: Long, scheduledForS: Long, runAtS: Long): Run = {
      val run = service.createRun(taskId, scheduledForS, runAtS)
      executeRun(taskId, run.id)
    }

    /** executor.go:202 ManualRun: promote a queued manual run. */
    def manualRun(taskId: Long, runId: Long): Run = {
      val r = service.startManualRun(taskId, runId)
      executeRun(taskId, r.id)
    }

    /** executor.go:215 ResumeCurrentRun: re-drive a run that is already
      * in the running set (restart recovery). */
    def resumeCurrentRun(taskId: Long, runId: Long): Run = {
      service.findRunByID(taskId, runId)
      executeRun(taskId, runId)
    }

    /** executor.go:282 Cancel (observable effects of the worker's
      * canceled-context path, executor.go:371-377): the "Run canceled"
      * log + canceled state with finishedAt. The run is NOT finished —
      * it stays in the running set, resumable, exactly as the reference
      * worker returns without FinishRun. */
    def cancel(taskId: Long, runId: Long): Unit = {
      val now = clock()
      service.addRunLog(taskId, runId, now, "Run canceled")
      service.updateRunState(taskId, runId, now, RunStatus.Canceled)
    }

    private def executeRun(taskId: Long, runId: Long): Run = {
      val task = service.findTaskByID(taskId)
      // the worker's limit check (executor.go:367-385): a blocked run
      // logs the limit error and stays current, resumable later
      limit(task, service.findRunByID(taskId, runId)).foreach { msg =>
        service.addRunLog(taskId, runId, clock(), s"Task limit reached: $msg")
        throw new RunLimited(taskId, runId, msg)
      }
      // worker.start (executor.go:401-414)
      service.addRunLog(taskId, runId, clock(),
        s"""Started task from script: "${task.flux}"""")
      service.updateRunState(taskId, runId, clock(), RunStatus.Started)
      val run = service.findRunByID(taskId, runId)
      // the query itself; a throw is the recovered worker panic
      val outcome =
        try runQuery(task, run.scheduledForS)
        catch { case e: Exception => Left(s"panic: ${e.getMessage}") }
      // worker.finish (executor.go:416-455)
      val (status, errMsg) = outcome match {
        case Right(_) => (RunStatus.Success, None)
        case Left(m)  => (RunStatus.Failed, Some(m))
      }
      service.addRunLog(taskId, runId, clock(), s"Completed(${status})")
      service.updateRunState(taskId, runId, clock(), status)
      errMsg.foreach(m => service.addRunLog(taskId, runId, clock(), m))
      val finished = service.finishRun(taskId, runId)
      // the AnalyticalStorage seam (analytical_storage.go:154-160):
      // FinishRun also records the run into the analytical store
      onRunFinished(finished)
      finished
    }
  }

  /** treescheduler.go:63-418 as a deterministic fold. The btree keyed
    * (when, id) is a TreeSet; [[advanceTo]] is the main loop's walk:
    * fire every item with `when = next + offset <= now` in (when, id)
    * order, advancing each item's cron after it fires — identical
    * interleaving to the reference's iterate-and-requeue pass. Executor
    * errors go to `onErr` and do NOT stop the schedule; a cron that
    * cannot produce a next time drops the task (ErrUnrecoverable,
    * treescheduler.go:259-263). */
  final class FluxScheduler(
      executor: (Long, Long, Long) => Unit,
      checkpoint: (Long, Long) => Unit = (_, _) => (),
      onErr: (Long, Long, String) => Unit = (_, _, _) => ()) {

    private case class Item(whenS: Long, id: Long, nextS: Long, offsetS: Long,
        schedule: FluxCron.Schedule)
    private implicit val ord: Ordering[(Long, Long)] = Ordering.Tuple2
    private val queue = mutable.TreeMap[(Long, Long), Item]()
    private val nextTime = mutable.Map[Long, Long]() // id → when key

    /** treescheduler.go:340 Schedule: (re)insert a task; replaces any
      * existing entry for the id. */
    def schedule(st: SchedulableTask): Unit = {
      val nextS =
        try st.schedule.next(st.lastScheduledS)
        catch {
          case e: Exception =>
            onErr(st.id, 0L, e.getMessage); throw e
        }
      nextTime.get(st.id).foreach(w => queue.remove((w, st.id)))
      val it = Item(nextS + st.offsetS, st.id, nextS, st.offsetS, st.schedule)
      nextTime(st.id) = it.whenS
      queue((it.whenS, it.id)) = it
    }

    /** treescheduler.go:298 Release. */
    def release(id: Long): Unit =
      nextTime.remove(id).foreach(w => queue.remove((w, id)))

    /** The next (when) the scheduler would fire, if any. */
    def when: Option[Long] = queue.headOption.map(_._1._1)

    /** Fire everything due at or before `nowS`. Returns fire count. */
    def advanceTo(nowS: Long): Int = {
      var fired = 0
      var continue = true
      while (continue) {
        queue.headOption match {
          case Some(((w, id), it)) if w <= nowS =>
            queue.remove((w, id))
            fired += 1
            try executor(it.id, it.nextS, it.whenS)
            catch { case e: Exception => onErr(it.id, it.nextS, e.getMessage) }
            // checkpoint LastScheduled (treescheduler.go:333)
            checkpoint(it.id, it.nextS)
            // advance the cron; failure drops the task (ErrUnrecoverable)
            try {
              val nn = it.schedule.next(it.nextS)
              val it2 = it.copy(whenS = nn + it.offsetS, nextS = nn)
              nextTime(id) = it2.whenS
              queue((it2.whenS, id)) = it2
            } catch {
              case e: Exception =>
                nextTime.remove(id)
                onErr(it.id, it.nextS, s"unrecoverable: ${e.getMessage}")
            }
          case _ => continue = false
        }
      }
      fired
    }
  }

  /** coordinator.go + services/fluxtask/service.go — the composition
    * root: a service, an executor over `runQuery`, and a scheduler wired
    * through the coordinator notifications.
    *
    * With a `workerPool`, runs read `clock` from the pool's threads, so a
    * stepped clock (`now = x; advanceTo(x)`) must not move until
    * `workerPool.awaitAll()` returns. */
  final class FluxTaskSystem(
      val clock: () => Long,
      runQuery: QueryRunner,
      onErr: (Long, Long, String) => Unit = (_, _, _) => (),
      onRunFinished: Run => Unit = _ => (),
      concurrencyOf: Task => Option[Int] = _ => None,
      workerPool: Option[TaskSerialPool] = None) {

    val service = new FluxTaskService(clock)
    val executor = new FluxExecutor(service, runQuery, clock, onRunFinished,
      concurrencyLimit(service, concurrencyOf))
    // With a workerPool, scheduled fires dispatch to the per-task serial
    // queues (the reference's executor worker pool — cross-task overlap,
    // per-task order and complete FSM transitions); the caller awaits
    // workerPool.awaitAll() after advanceTo. Without one, execution stays
    // synchronous inside the scheduler walk (the deterministic default
    // every spec and the schedule/runs oracles use). Either way an
    // executor error reaches onErr, which pooled fires call from worker
    // threads.
    val scheduler = new FluxScheduler(
      (id, sf, ra) => workerPool match {
        case Some(p) => p.submit(id) {
          try executor.execute(id, sf, ra)
          catch { case e: Exception => onErr(id, sf, e.getMessage) }
        }
        case None => executor.execute(id, sf, ra); ()
      },
      (id, t) => service.updateLastScheduled(id, t),
      onErr)

    /** middleware + coordinator TaskCreated. */
    def createTask(tc: TaskCreate): Task = {
      val t = service.createTask(tc)
      if (t.status == TaskStatus.Active) scheduler.schedule(newSchedulableTask(t))
      t
    }

    /** coordinator.go:124 TaskUpdated: release on deactivation,
      * (re)schedule otherwise. */
    def updateTask(id: Long, upd: TaskUpdate): Task = {
      val from = service.findTaskByID(id)
      val to = service.updateTask(id, upd)
      if (to.status != from.status && to.status == TaskStatus.Inactive)
        scheduler.release(id)
      else scheduler.schedule(newSchedulableTask(to))
      to
    }

    /** coordinator.go:146 TaskDeleted. */
    def deleteTask(id: Long): Unit = {
      service.deleteTask(id)
      scheduler.release(id)
    }

    /** coordinator.go:178 RunForced: queue + run immediately. */
    def runForced(taskId: Long, scheduledForS: Long): Run = {
      val queued = service.forceRun(taskId, scheduledForS)
      executor.manualRun(taskId, queued.id)
    }

    /** coordinator.go:163 RunRetried. */
    def runRetried(taskId: Long, runId: Long): Run = {
      val queued = service.retryRun(taskId, runId)
      executor.manualRun(taskId, queued.id)
    }

    /** backend.TaskNotifyCoordinatorOfExisting (fluxtask/service.go:120):
      * schedule all active tasks, resume any currently-running runs. */
    def notifyExisting(): Unit = {
      for (t <- service.findTasks() if t.status == TaskStatus.Active) {
        for (r <- service.currentlyRunning(t.id))
          executor.resumeCurrentRun(t.id, r.id)
        scheduler.schedule(newSchedulableTask(t))
      }
    }

    /** Advance the injected clock's scheduler to `nowS`. */
    def advanceTo(nowS: Long): Int = scheduler.advanceTo(nowS)
  }
}
