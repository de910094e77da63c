package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tick.{FluxCron, FluxSchedule, FluxTasks}
import graft.tick.FluxTasks._

/** Pins the Flux-task lifecycle laws to the reference's own test
  * corpus: task/backend/scheduler/scheduler_test.go (fire counts,
  * boundaries, alignment vectors, release, panic handling),
  * task/kv/task_test.go (forward-only latest* clocks, inactive→active
  * reset, run cancellation), task/backend/coordinator/coordinator_test
  * .go (NewSchedulableTask catch-up start selection). */
class FluxTaskSpec extends AnyFunSuite {

  private def utc(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int): Long =
    java.time.LocalDateTime.of(y, mo, d, h, mi, s)
      .toEpochSecond(java.time.ZoneOffset.UTC)

  // ------------------------------------------------------ NewSchedule

  test("NewSchedule alignment vectors (scheduler_test.go:607-670)") {
    val last = utc(2016, 1, 1, 1, 10, 23)
    assert(FluxCron.newSchedule("@every 1m", last)._2 === utc(2016, 1, 1, 1, 10, 0))
    assert(FluxCron.newSchedule("@every 7m", last)._2 === utc(2016, 1, 1, 1, 4, 0))
    assert(FluxCron.newSchedule("@every 1h", last)._2 === utc(2016, 1, 1, 1, 0, 0))
    assert(FluxCron.newSchedule("@every 3h", last)._2 === utc(2016, 1, 1, 0, 0, 0))
    // non-@every schedules pass the time through unaligned
    assert(FluxCron.newSchedule("* * * * *", last)._2 === last)
  }

  test("NewSchedule rejects bad cron strings") {
    intercept[IllegalArgumentException] {
      FluxCron.newSchedule("this is not a cron string", 0L)
    }
    intercept[IllegalArgumentException] { FluxCron.parse("* * *") }
    intercept[IllegalArgumentException] { FluxCron.parse("61 * * * *") }
  }

  // -------------------------------------------------------- cron next

  test("7-field second crons") {
    val s = FluxCron.parse("* * * * * * *")
    assert(s.next(1000) === 1001)
    val s2 = FluxCron.parse("*/2 * * * * * *")
    assert(s2.next(1000) === 1002)
    assert(s2.next(1001) === 1002)
  }

  test("5-field cron '0 0 1 12 *' fires Dec 1 midnight (scheduler_test.go:514)") {
    val s = FluxCron.parse("0 0 1 12 *")
    assert(s.next(utc(2096, 12, 30, 0, 0, 0)) === utc(2097, 12, 1, 0, 0, 0))
    assert(s.next(utc(2096, 1, 15, 0, 0, 0)) === utc(2096, 12, 1, 0, 0, 0))
  }

  test("predefined, names, ranges, dow") {
    assert(FluxCron.parse("@hourly").next(utc(2020, 6, 1, 10, 30, 0)) ===
      utc(2020, 6, 1, 11, 0, 0))
    assert(FluxCron.parse("@daily").next(utc(2020, 6, 1, 10, 30, 0)) ===
      utc(2020, 6, 2, 0, 0, 0))
    assert(FluxCron.parse("0 0 1 JAN *").next(utc(2020, 6, 1, 0, 0, 0)) ===
      utc(2021, 1, 1, 0, 0, 0))
    // 2020-06-01 is a Monday; "0 9 * * MON" next Monday 09:00
    assert(FluxCron.parse("0 9 * * MON").next(utc(2020, 6, 1, 9, 0, 0)) ===
      utc(2020, 6, 8, 9, 0, 0))
    // restricted dom AND dow = OR rule: fires on the 13th OR on Friday
    val or = FluxCron.parse("0 0 13 * 5")
    assert(or.next(utc(2020, 6, 1, 0, 0, 0)) === utc(2020, 6, 5, 0, 0, 0)) // Fri
    assert(or.next(utc(2020, 6, 12, 0, 0, 0)) === utc(2020, 6, 13, 0, 0, 0)) // 13th (Sat)
    // minute ranges/steps
    assert(FluxCron.parse("10-20/5 * * * *").next(utc(2020, 1, 1, 0, 16, 0)) ===
      utc(2020, 1, 1, 0, 20, 0))
  }

  test("@every calendar months are calendar-aware") {
    val s = FluxCron.parse("@every 1mo")
    assert(s.next(utc(2020, 1, 31, 12, 0, 0)) === utc(2020, 2, 29, 12, 0, 0))
  }

  // -------------------------------------------------- scheduler laws

  private class Recorder {
    val fired = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val errs = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val checkpoints = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def scheduler = new FluxScheduler(
      (id, sf, ra) => fired += ((id, sf, ra)),
      (id, t) => checkpoints += ((id, t)),
      (id, t, m) => errs += ((id, t, m)))
  }

  test("@every 1m fires on minute boundaries with catch-up (scheduler_test.go:63)") {
    val r = new Recorder
    val sch = r.scheduler
    // aligned start: 17-minute advance with 1s offset → exactly 16 due
    // (the Go test consumes 16 from an arbitrary start without
    // asserting absence of a 17th; the aligned start makes 16 exact)
    val now = utc(2021, 3, 4, 5, 6, 0)
    val (s, ts) = FluxCron.newSchedule("@every 1m", now)
    sch.schedule(SchedulableTask(
      Task(1, "t", "active", "", "1m", "", 1L, now, 0, now, now), s, ts))
    sch.advanceTo(now + 17 * 60)
    assert(r.fired.length === 16)
    val times = r.fired.map(_._2)
    assert(times.forall(_ % 60 == 0), "fires on minute boundaries")
    assert(times.sliding(2).forall(p => p(1) - p(0) == 60), "1m spacing")
    assert(r.checkpoints.map(_._2) === times, "each fire checkpointed")
  }

  test("every-second fire counts (scheduler_test.go:257-323)") {
    val r = new Recorder
    val sch = r.scheduler
    val now = 100000L
    val (s, ts) = FluxCron.newSchedule("* * * * * * *", now)
    sch.schedule(SchedulableTask(
      Task(1, "t", "active", "", "", "* * * * * * *", 1L, now, 0, now, now), s, ts))
    assert(sch.advanceTo(now + 17) === 16)
    assert(sch.advanceTo(now + 17) === 0, "no refire without time advance")
    assert(sch.advanceTo(now + 19) === 2)
  }

  test("multiple schedulables fire the correct counts (scheduler_test.go:325-412)") {
    val r = new Recorder
    val sch = r.scheduler
    val now = 200000L
    val (s1, ts1) = FluxCron.newSchedule("* * * * * * *", now)
    val (s2, ts2) = FluxCron.newSchedule("*/2 * * * * * *", now)
    sch.schedule(SchedulableTask(Task(1, "a", "active", "", "", "", 1L, now, 0, now, now), s1, ts1))
    sch.schedule(SchedulableTask(Task(2, "b", "active", "", "", "", 1L, now, 0, now, now), s2, ts2))
    assert(sch.advanceTo(now + 17) === 24) // 16 + 8
    assert(sch.advanceTo(now + 19) === 3)  // 2 + 1
    // per-id serial order: scheduledFor strictly increasing
    for (id <- Seq(1L, 2L)) {
      val ts = r.fired.filter(_._1 == id).map(_._2)
      assert(ts === ts.sorted && ts.distinct === ts)
    }
  }

  test("does not fire before the task is ready (scheduler_test.go:210)") {
    val r = new Recorder
    val sch = r.scheduler
    val now = 300000L
    val (s, ts) = FluxCron.newSchedule("* * * * * * *", now + 10)
    sch.schedule(SchedulableTask(Task(1, "t", "active", "", "", "", 1L, now, 0, now, now), s, ts))
    assert(sch.advanceTo(now + 2) === 0)
    assert(sch.when === Some(now + 12)) // next + offset
  }

  test("release stops firing (scheduler_test.go:540)") {
    val r = new Recorder
    val sch = r.scheduler
    val now = 400000L
    val (s, ts) = FluxCron.newSchedule("* * * * * * *", now)
    sch.schedule(SchedulableTask(Task(1, "t", "active", "", "", "", 1L, now, 0, now, now), s, ts))
    assert(sch.advanceTo(now + 2) === 1)
    sch.release(1)
    assert(sch.advanceTo(now + 8) === 0)
  }

  test("re-schedule replaces the queue entry, no double fires") {
    val r = new Recorder
    val sch = r.scheduler
    val now = 500000L
    val (s, ts) = FluxCron.newSchedule("@every 10s", now)
    val st = SchedulableTask(Task(1, "t", "active", "", "10s", "", 0L, now, 0, now, now), s, ts)
    sch.schedule(st)
    sch.schedule(st) // replace, not duplicate
    assert(sch.advanceTo(now + 10) === 1)
  }

  test("executor errors reach onErr and do not stop the schedule (scheduler_test.go:430)") {
    val errs = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    var n = 0
    val sch = new FluxScheduler(
      (_, _, _) => { n += 1; throw new RuntimeException("yikes oh no!") },
      onErr = (id, t, m) => errs += ((id, t, m)))
    val now = 600000L
    val (s, ts) = FluxCron.newSchedule("* * * * * * *", now)
    sch.schedule(SchedulableTask(Task(1, "t", "active", "", "", "", 0L, now, 0, now, now), s, ts))
    assert(sch.advanceTo(now + 3) === 3)
    assert(errs.length === 3 && errs.forall(_._3.contains("yikes")))
  }

  // ------------------------------------------- service + run FSM laws

  private def freshSystem(outcome: QueryRunner = (_, _) => Right(())) = {
    var now = 1000L
    val sys = new FluxTaskSystem(() => now, outcome)
    (sys, (t: Long) => { now = t })
  }

  test("createTask defaults (kv/task.go:307-345)") {
    val (sys, _) = freshSystem()
    val t = sys.createTask(TaskCreate(name = "n", flux = "f", every = "1m"))
    assert(t.status === TaskStatus.Active)
    assert(t.createdAtS === 1000L)
    assert(t.latestCompletedS === 1000L && t.latestScheduledS === 1000L)
    assert(t.effectiveCron === "@every 1m")
    intercept[IllegalArgumentException] {
      sys.createTask(TaskCreate(name = "bad"))
    }
  }

  test("success run: FSM states, exact log lines, task bookkeeping") {
    val logs = scala.collection.mutable.ArrayBuffer[Vector[RunLog]]()
    var sysRef: FluxTaskSystem = null
    val (sys, setNow) = freshSystem((task, sf) => {
      // mid-flight: the run is started with a startedAt stamp
      val r = sysRef.service.currentlyRunning(task.id).head
      assert(r.status === RunStatus.Started && r.startedAtS.contains(5000L))
      logs += r.logs
      Right(())
    })
    sysRef = sys
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    setNow(5000L)
    val run = sys.executor.execute(t.id, 1060L, 1060L)
    assert(run.status === RunStatus.Success)
    assert(run.finishedAtS.contains(5000L))
    assert(logs.head.map(_.message) === Vector("Started task from script: \"fx\""))
    assert(run.logs.map(_.message) ===
      Vector("Started task from script: \"fx\"", "Completed(success)"))
    val t2 = sys.service.findTaskByID(t.id)
    assert(t2.latestCompletedS === 1060L)
    assert(t2.latestSuccessS === Some(1060L) && t2.latestFailureS === None)
    assert(t2.lastRunStatus === RunStatus.Success && t2.lastRunError === "")
    assert(sys.service.currentlyRunning(t.id).isEmpty, "finished run removed")
  }

  test("failed run: latestFailure + the second-to-last-log lastRunError law") {
    val (sys, setNow) = freshSystem((_, _) => Left("query exploded"))
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    setNow(5000L)
    val run = sys.executor.execute(t.id, 1060L, 1060L)
    assert(run.status === RunStatus.Failed)
    assert(run.logs.map(_.message) === Vector(
      "Started task from script: \"fx\"", "Completed(failed)", "query exploded"))
    val t2 = sys.service.findTaskByID(t.id)
    assert(t2.latestFailureS === Some(1060L) && t2.latestSuccessS === None)
    assert(t2.lastRunStatus === RunStatus.Failed)
    // kv/task.go:1127-1138: the error recorded is the SECOND-to-last line
    assert(t2.lastRunError === "Completed(failed)")
  }

  test("a thrown runner is the recovered worker panic → failed run") {
    val (sys, _) = freshSystem((_, _) => throw new RuntimeException("boom"))
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    val run = sys.executor.execute(t.id, 1060L, 1060L)
    assert(run.status === RunStatus.Failed)
    assert(run.logs.last.message === "panic: boom")
  }

  test("forceRun / manual queue / duplicate rejection (kv/task.go:854-898)") {
    val (sys, _) = freshSystem()
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    val q = sys.service.forceRun(t.id, 7777L)
    assert(q.status === RunStatus.Scheduled && q.requestedAtS.contains(1000L))
    intercept[RunAlreadyQueued] { sys.service.forceRun(t.id, 7777L) }
    assert(sys.service.manualRuns(t.id).map(_.id) === Seq(q.id))
    val done = sys.executor.manualRun(t.id, q.id)
    assert(done.status === RunStatus.Success)
    assert(sys.service.manualRuns(t.id).isEmpty)
    assert(sys.service.findTaskByID(t.id).latestCompletedS === 7777L)
  }

  test("retryRun clones to the manual queue as a fresh scheduled run") {
    val (sys, _) = freshSystem()
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    // leave a run in the running set (not finished): create directly
    val r = sys.service.createRun(t.id, 4242L, 4242L)
    sys.service.updateRunState(t.id, r.id, 2000L, RunStatus.Started)
    val retried = sys.service.retryRun(t.id, r.id)
    assert(retried.id !== r.id)
    assert(retried.status === RunStatus.Scheduled)
    assert(retried.startedAtS.isEmpty && retried.finishedAtS.isEmpty)
    assert(sys.service.manualRuns(t.id).map(_.id) === Seq(retried.id))
  }

  test("cancel leaves the run current with canceled state + log (executor.go:371-377)") {
    val (sys, _) = freshSystem()
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    val r = sys.service.createRun(t.id, 4242L, 4242L)
    sys.executor.cancel(t.id, r.id)
    val cur = sys.service.currentlyRunning(t.id)
    assert(cur.map(_.status) === Seq(RunStatus.Canceled))
    assert(cur.head.finishedAtS.contains(1000L))
    assert(cur.head.logs.map(_.message) === Vector("Run canceled"))
  }

  test("forward-only latest* clocks (TestService_UpdateTask_RecordLatestSuccessAndFailure)") {
    val (sys, _) = freshSystem()
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    sys.service.updateTask(t.id, TaskUpdate(latestCompletedS = Some(9000L)))
    sys.service.updateTask(t.id, TaskUpdate(latestCompletedS = Some(8000L)))
    assert(sys.service.findTaskByID(t.id).latestCompletedS === 9000L)
    sys.service.updateTask(t.id, TaskUpdate(latestSuccessS = Some(5000L)))
    sys.service.updateTask(t.id, TaskUpdate(latestSuccessS = Some(4000L)))
    assert(sys.service.findTaskByID(t.id).latestSuccessS === Some(5000L))
  }

  test("inactive→active resets the catch-up clocks to now (kv/task.go:427-433)") {
    var now = 1000L
    val sys = new FluxTaskSystem(() => now, (_, _) => Right(()))
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    sys.updateTask(t.id, TaskUpdate(status = Some(TaskStatus.Inactive)))
    now = 99000L
    val t2 = sys.updateTask(t.id, TaskUpdate(status = Some(TaskStatus.Active)))
    assert(t2.latestCompletedS === 99000L && t2.latestScheduledS === 99000L)
  }

  test("newSchedulableTask picks the catch-up start (coordinator_test.go:98)") {
    val base = Task(1, "n", "active", "", "1m", "", 0, 1000, 0,
      latestCompletedS = 0L, latestScheduledS = 0L)
    // latestScheduled zero → latestCompleted
    assert(newSchedulableTask(base.copy(latestCompletedS = utc(2020, 1, 1, 0, 0, 0)))
      .lastScheduledS === utc(2020, 1, 1, 0, 0, 0))
    // latestScheduled behind latestCompleted → latestCompleted
    assert(newSchedulableTask(base.copy(
      latestCompletedS = utc(2020, 1, 1, 0, 2, 0),
      latestScheduledS = utc(2020, 1, 1, 0, 1, 0))).lastScheduledS ===
      utc(2020, 1, 1, 0, 2, 0))
    // otherwise latestScheduled
    assert(newSchedulableTask(base.copy(
      latestCompletedS = utc(2020, 1, 1, 0, 1, 0),
      latestScheduledS = utc(2020, 1, 1, 0, 2, 0))).lastScheduledS ===
      utc(2020, 1, 1, 0, 2, 0))
  }

  test("coordinator: deactivation releases, deletion releases (coordinator.go:124-153)") {
    var now = 1000L
    val sys = new FluxTaskSystem(() => now, (_, _) => Right(()))
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    now = 1000L + 120
    assert(sys.advanceTo(now) === 2) // catch-up from aligned 960: fires 1020, 1080...
    sys.updateTask(t.id, TaskUpdate(status = Some(TaskStatus.Inactive)))
    assert(sys.advanceTo(now + 600) === 0, "released on deactivation")
    val t2 = sys.createTask(TaskCreate(name = "n2", flux = "fx", every = "1m"))
    sys.deleteTask(t2.id)
    assert(sys.advanceTo(now + 1200) === 0, "released on deletion")
    intercept[TaskNotFound] { sys.service.findTaskByID(t2.id) }
  }

  test("findTasks/findRuns filter laws (kv/task.go:187-292,634-689)") {
    var now = 1000L
    val service = new FluxTaskService(() => now)
    val a = service.createTask(TaskCreate(name = "alpha", every = "1m"))
    val b = service.createTask(TaskCreate(name = "beta", every = "1m"))
    val c = service.createTask(TaskCreate(name = "alpha", every = "1m",
      status = TaskStatus.Inactive))
    assert(service.findTasks(TaskFilter()).map(_.id) === Seq(a.id, b.id, c.id))
    assert(service.findTasks(TaskFilter(name = Some("alpha"))).map(_.id) ===
      Seq(a.id, c.id))
    assert(service.findTasks(TaskFilter(name = Some("alpha"),
      status = Some(TaskStatus.Active))).map(_.id) === Seq(a.id))
    assert(service.findTasks(TaskFilter(after = Some(a.id))).map(_.id) ===
      Seq(b.id, c.id), "after-id paging")
    assert(service.findTasks(TaskFilter(limit = 2)).map(_.id) === Seq(a.id, b.id))
    intercept[IllegalArgumentException] { service.findTasks(TaskFilter(limit = -1)) }
    intercept[IllegalArgumentException] { service.findTasks(TaskFilter(limit = 501)) }

    // runs: manual queue first, then running set, strict time bounds
    now = 10000L
    val m = service.forceRun(a.id, 3000L)
    val r1 = service.createRun(a.id, 2000L, 2000L)
    val r2 = service.createRun(a.id, 9000L, 9000L)
    assert(service.findRuns(a.id).map(_.id) === Seq(m.id, r1.id, r2.id))
    assert(service.findRuns(a.id, RunFilter(afterTimeS = Some(2000L)))
      .map(_.id) === Seq(m.id, r2.id), "strictly after")
    assert(service.findRuns(a.id, RunFilter(beforeTimeS = Some(3000L)))
      .map(_.id) === Seq(r1.id), "strictly before")
    now = 5000L // beforeTime defaults to NOW: r2 (9000) is in the future
    assert(service.findRuns(a.id).map(_.id) === Seq(m.id, r1.id))
    assert(service.findRuns(a.id, RunFilter(limit = 1)).map(_.id) === Seq(m.id))
  }

  test("concurrency limit ranks runs by scheduledFor (executor limits_test.go:16)") {
    val service = new FluxTaskService(() => 1000L)
    val t1 = service.createTask(TaskCreate(name = "c1", flux = "f", every = "1s"))
    val r1 = service.createRun(t1.id, 100L, 104L)
    val r2 = service.createRun(t1.id, 101L, 104L)
    val r3 = service.createRun(t1.id, 102L, 104L)
    val r4 = Run(999L, t1.id, RunStatus.Scheduled, 104L, 104L) // not saved
    val cl1 = concurrencyLimit(service, _ => Some(1))
    assert(cl1(t1, r1).isEmpty, "oldest run proceeds")
    assert(cl1(t1, r2) === Some(
      "could not execute task, concurrency limit reached, runs in front: 0"))
    assert(cl1(t1, r3) === Some(
      "could not execute task, concurrency limit reached, runs in front: 1"))
    assert(cl1(t1, r4) === Some(
      "could not execute task, concurrency limit reached, runs in front: 2"))
    val cl10 = concurrencyLimit(service, _ => Some(10))
    assert(cl10(t1, r4).isEmpty, "under the limit passes even unsaved")
    assert(concurrencyLimit(service, _ => None)(t1, r2).isEmpty, "no declared limit")
    // a saved run ranked under the limit proceeds even when the running
    // set is exactly at the limit…
    val t2 = service.createTask(TaskCreate(name = "c2", flux = "f", every = "1s"))
    val s1 = service.createRun(t2.id, 100L, 100L)
    assert(concurrencyLimit(service, _ => Some(1))(t2, s1).isEmpty)
    // …but a run NOT yet in the running set is rejected there — the
    // limits.go:31 short-circuit is strictly `len(runs) < limit`
    val unsaved = Run(998L, t2.id, RunStatus.Scheduled, 101L, 101L)
    assert(concurrencyLimit(service, _ => Some(1))(t2, unsaved) === Some(
      "could not execute task, concurrency limit reached, runs in front: 0"))
  }

  test("kv cancelRun is status-only; the executor's cancel stamps finishedAt") {
    // kv/task.go:743 CancelRun mutates status alone — no log line, no
    // finishedAt; the canceled finish stamp is the executor FSM's job
    // (FluxExecutor.cancel). Pin both halves so the two paths don't drift.
    var now = 1000L
    val sys = new FluxTaskSystem(() => now, (_, _) => Right(()))
    val t = sys.createTask(TaskCreate(name = "cx", flux = "f", every = "1m"))
    val r1 = sys.service.createRun(t.id, 100L, 100L)
    sys.service.cancelRun(t.id, r1.id)
    val r1b = sys.service.findRunByID(t.id, r1.id)
    assert(r1b.status === RunStatus.Canceled)
    assert(r1b.finishedAtS.isEmpty && r1b.logs.isEmpty, "kv path is status-only")
    val r2 = sys.service.createRun(t.id, 200L, 200L)
    now = 1234L
    sys.executor.cancel(t.id, r2.id)
    val r2b = sys.service.findRunByID(t.id, r2.id)
    assert(r2b.status === RunStatus.Canceled)
    assert(r2b.finishedAtS === Some(1234L))
    assert(r2b.logs.map(_.message) === Vector("Run canceled"))
  }

  test("a limited run blocks with the limit log line and stays resumable") {
    var now = 1000L
    val sys = new FluxTaskSystem(() => now, (_, _) => Right(()),
      concurrencyOf = _ => Some(1))
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "1m"))
    // a stuck older run occupies the slot
    val stuck = sys.service.createRun(t.id, 50L, 50L)
    val blocked = intercept[RunLimited] { sys.executor.execute(t.id, 60L, 60L) }
    val cur = sys.service.currentlyRunning(t.id)
    assert(cur.length === 2, "blocked run stays current")
    val br = cur.find(_.id == blocked.runId).get
    assert(br.status === RunStatus.Scheduled)
    assert(br.logs.map(_.message) === Vector(
      "Task limit reached: could not execute task, concurrency limit reached, runs in front: 0"))
    // capacity frees → the blocked run resumes to completion
    sys.service.updateRunState(t.id, stuck.id, now, RunStatus.Success)
    sys.service.finishRun(t.id, stuck.id)
    val done = sys.executor.resumeCurrentRun(t.id, blocked.runId)
    assert(done.status === RunStatus.Success)
    assert(sys.service.currentlyRunning(t.id).isEmpty)
  }

  test("end-to-end: scheduled runs update the task through the whole stack") {
    var now = 1000L
    val outcomes = scala.collection.mutable.ArrayBuffer[Long]()
    val sys = new FluxTaskSystem(() => now,
      (_, sf) => { outcomes += sf; if (sf % 120 == 0) Left("bad") else Right(()) })
    val t = sys.createTask(TaskCreate(name = "n", flux = "fx", every = "60s"))
    now = 1000 + 300
    sys.advanceTo(now)
    // aligned last = 960; fires 1020, 1080, 1140, 1200, 1260
    assert(outcomes.toSeq === Seq(1020L, 1080L, 1140L, 1200L, 1260L))
    val t2 = sys.service.findTaskByID(t.id)
    assert(t2.latestCompletedS === 1260L)
    assert(t2.latestScheduledS === 1260L, "checkpointer ran")
    assert(t2.latestSuccessS === Some(1260L))
    assert(t2.latestFailureS === Some(1200L))
    assert(t2.lastRunStatus === RunStatus.Success)
  }

  // -------------------------------------- worker-pool fire dispatch (r22)

  test("TaskSerialPool: per-id serial order, failures rethrow at awaitAll without stopping the chain") {
    val pool = new TaskSerialPool(4)
    val order = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    for (i <- 1 to 5; id <- Seq(1L, 2L)) pool.submit(id) {
      Thread.sleep(if (id == 1) 3 else 1) // skew so overlap would reorder if unserialized
      order.synchronized { order += ((id, i)) }
      if (id == 2 && i == 3) throw new RuntimeException("boom")
    }
    val e = intercept[RuntimeException] { pool.awaitAll() }
    assert(e.getMessage === "boom")
    // strict per-id order, including the fires AFTER the thrown one
    assert(order.synchronized(order.filter(_._1 == 1L).map(_._2).toSeq) === (1 to 5))
    assert(order.synchronized(order.filter(_._1 == 2L).map(_._2).toSeq) === (1 to 5))
    // two failing bodies on different ids: one throw carrying the other
    val two = new TaskSerialPool(2)
    two.submit(1L) { throw new RuntimeException("one") }
    two.submit(2L) { throw new RuntimeException("two") }
    val e2 = intercept[RuntimeException] { two.awaitAll() }
    assert(e2.getSuppressed.length === 1)
    assert((e2 +: e2.getSuppressed.toSeq).map(_.getMessage).toSet === Set("one", "two"))
  }

  test("worker pool: a drain-time failure is the run's own failure — latestSuccess does NOT advance") {
    // The r21 fluxtask regression at the margin: the runner submitted the
    // drain asynchronously and returned Right, so a collect-time failure
    // recorded a SUCCESSFUL run and every later `:last_success` binding
    // diverged from the reference's ErrQueryError path. With the per-task
    // serial pool the drain runs inside the runner: the poisoned fire
    // fails its run, and the same task's next fires observe the
    // pre-failure clock.
    def run(pool: Option[TaskSerialPool]): (Seq[(Long, Long, Option[Long])], Seq[Task]) = {
      val observed = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])]()
      var now = 0L
      val sys = new FluxTaskSystem(
        () => now,
        (task, sf) => {
          // what the reference binds as tasks.lastSuccessTime for this run
          observed.synchronized { observed += ((task.id, sf, task.latestSuccessS)) }
          Thread.sleep(if (task.id == 2) 8 else 2) // make cross-task overlap real
          if (task.id == 2 && sf == 300L) Left("query error: poisoned drain")
          else Right(())
        },
        workerPool = pool)
      now = 0L
      for (i <- 1 to 3) sys.createTask(TaskCreate(name = s"t$i", flux = "f", every = "60s"))
      now = 300L
      sys.advanceTo(300L)
      pool.foreach(_.awaitAll())
      (observed.synchronized(observed.toSeq), sys.service.findTasks())
    }
    val (obs, tasks) = run(Some(new TaskSerialPool(4)))
    val t2 = tasks.find(_.id == 2L).get
    assert(t2.latestSuccessS === Some(240L), "failed fire must not advance latestSuccess")
    assert(t2.latestFailureS === Some(300L))
    assert(t2.latestCompletedS === 300L)
    assert(t2.lastRunStatus === RunStatus.Failed)
    // the second-to-last-log lastRunError law (kv/task.go:1127-1138): the
    // executor logs Started / Completed(failed) / <error>, so the stored
    // lastRunError is the Completed line — same as the synchronous path
    assert(t2.lastRunError === "Completed(failed)")
    // per-task bind-time clocks: strictly the previous fire's outcome
    assert(obs.filter(_._1 == 2L).sortBy(_._2) === Seq(
      (2L, 60L, None), (2L, 120L, Some(60L)), (2L, 180L, Some(120L)),
      (2L, 240L, Some(180L)), (2L, 300L, Some(240L))))
    // pooled execution is observably identical to the synchronous walk
    val (obsSync, tasksSync) = run(None)
    assert(obs.sorted === obsSync.sorted)
    assert(tasks === tasksSync)
  }

  test("worker pool: an executor error reaches onErr exactly as in the synchronous walk") {
    // A throwing query fails its run; the analytical store then rejects
    // the failed run, so executor.execute itself throws. The synchronous
    // walk routes that to onErr; a pooled fire must do the same instead of
    // leaving it for awaitAll to rethrow.
    def run(pool: Option[TaskSerialPool]): (Seq[(Long, Long, String)], Seq[Task]) = {
      val errs = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
      var now = 0L
      val sys = new FluxTaskSystem(
        () => now,
        (task, sf) =>
          if (task.id == 2 && sf % 120 == 0) throw new RuntimeException(s"boom at $sf")
          else Right(()),
        onErr = (id, sf, msg) => errs.synchronized { errs += ((id, sf, msg)) },
        onRunFinished = r =>
          if (r.status == RunStatus.Failed)
            throw new IllegalStateException(s"store rejected run ${r.taskId}@${r.scheduledForS}"),
        workerPool = pool)
      for (i <- 1 to 3) sys.createTask(TaskCreate(name = s"t$i", flux = "f", every = "60s"))
      now = 300L
      sys.advanceTo(300L)
      pool.foreach(_.awaitAll())
      (errs.synchronized(errs.toSeq), sys.service.findTasks())
    }
    val (errsSync, tasksSync) = run(None)
    assert(errsSync === Seq(
      (2L, 120L, "store rejected run 2@120"), (2L, 240L, "store rejected run 2@240")))
    val (errsPool, tasksPool) = run(Some(new TaskSerialPool(4)))
    assert(errsPool.sorted === errsSync)
    assert(tasksPool === tasksSync)
  }
}

/** Spark-side: the distributed fire-time expansion agrees with the
  * driver-side scheduler fold on every schedule family. */
class FluxScheduleSpec extends SparkSpec {
  import FluxSchedule.FluxTaskDef

  test("fireTimes matches the FluxScheduler fold for @every and crons") {
    val sparkS = spark
    import sparkS.implicits._
    val horizon = 7200L
    val defs = Seq(
      FluxTaskDef(1, "@every 90s", 5, 1234),
      FluxTaskDef(2, "@every 7m", 0, 999),
      FluxTaskDef(3, "*/15 * * * * *", 2, 500),
      FluxTaskDef(4, "30 12 * * * *", 0, 0),
      FluxTaskDef(5, "0 0 1 12 *", 0, 0), // never fires inside the horizon
      FluxTaskDef(6, "@every 1h", 60, 3601))
    val got = FluxSchedule.fireTimes(defs.toDS(), horizon)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted

    // oracle: the synchronous scheduler fold
    val fired = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val sch = new FluxTasks.FluxScheduler((id, sf, ra) => fired += ((id, sf, ra)))
    for (d <- defs) {
      val (s, ts) = FluxCron.newSchedule(d.cron, d.last_scheduled_s)
      sch.schedule(FluxTasks.SchedulableTask(
        FluxTasks.Task(d.task_id, "", "active", "", "", d.cron, d.offset_s,
          0, 0, 0, 0), s, ts))
    }
    sch.advanceTo(horizon)
    assert(got.toSeq === fired.sorted.toSeq)
    assert(got.nonEmpty && !got.exists(_._1 == 5L))
  }

  test("sub-second @every raises the engine's clear error, not a DIV-by-zero") {
    val sparkS = spark
    import sparkS.implicits._
    val defs = Seq(FluxTaskDef(1, "@every 500ms", 0, 1000))
    val e = intercept[org.apache.spark.SparkException] {
      FluxSchedule.fireTimes(defs.toDS(), 2000L).collect()
    }
    // routed down the general path → FluxCron.Every's positivity require
    assert(Option(e.getMessage).getOrElse("").contains("must be positive") ||
      Option(e.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("must be positive")))
  }
}
