package graft

import graft.streaming.{AlertStream, AlertTopics}
import graft.streaming.AlertStream.{AlertConfig, LevelPoint}
import org.apache.spark.sql.functions._

/** alert().all(), topic fan-out and inhibitors (reference
  * pipeline/alert.go:490-496, alert.go:712-914, alert/inhibit.go). */
class AlertTopicsSpec extends SparkSpec {
  import spark.implicits._

  // three batches for one group: (batch_us, point time, id, level)
  private def batchDf = Seq(
    // batch 0: levels 1,3,2 → all→1, any→3 (highest first at t=20)
    ("g", 0L, 10L, 1L, 1), ("g", 0L, 20L, 2L, 3), ("g", 0L, 30L, 3L, 2),
    // batch 100: levels 3,3 → the FIRST point with the max level wins the time
    ("g", 100L, 110L, 4L, 3), ("g", 100L, 120L, 5L, 3),
    // batch 200: all OK
    ("g", 200L, 210L, 6L, 0))
    .toDF("group", "batch_us", "t_us", "id", "lvl")

  test("batchLevels: all() takes the lowest level and the batch time") {
    val out = AlertStream.batchLevels(batchDf, col("group"), col("batch_us"),
      col("t_us"), col("id"), col("lvl"), all = true)
      .orderBy("time_us").as[(String, Long, Int)].collect().toSeq
    assert(out == Seq(("g", 0L, 1), ("g", 100L, 3), ("g", 200L, 0)))
  }

  test("batchLevels: default takes the highest level and its first point's time") {
    val out = AlertStream.batchLevels(batchDf, col("group"), col("batch_us"),
      col("t_us"), col("id"), col("lvl"), all = false)
      .orderBy("time_us").as[(String, Long, Int)].collect().toSeq
    // batch 0 → highest 3 at t=20; batch 100 → first of the two 3s at t=110;
    // batch 200 → OK falls back to the batch time
    assert(out == Seq(("g", 20L, 3), ("g", 110L, 3), ("g", 200L, 0)))
  }

  test("runBatchLevels drives the FSM: emit on non-OK or change, duration spans the run") {
    val events = AlertStream.runBatchLevels(
      Seq(LevelPoint("g", 0L, 0), LevelPoint("g", 10L, 2), LevelPoint("g", 20L, 2),
        LevelPoint("g", 30L, 0), LevelPoint("g", 40L, 0)).toDS(),
      AlertConfig())
      .collect().sortBy(_.timeUs)
      .map(e => (e.timeUs, e.level, e.changed, e.durationUs)).toSeq
    // t=0 OK unchanged → silent; t=10 WARN changed (run starts); t=20 WARN
    // unchanged (still emits, not stateChangesOnly); t=30 recovery with the
    // run's duration; t=40 OK unchanged → silent
    assert(events == Seq((10L, 2, true, 0L), (20L, 2, false, 10L), (30L, 0, true, 20L)))
  }

  test("inhibitors: candidates are suppressed exactly while the inhibitor is non-OK") {
    // cpu_alert on host A goes CRITICAL at t=100, recovers at t=300
    // (pipeline/alert.go:577-601 inhibit example)
    val inhibitorEvents = Seq(
      ("A", 100L, 3), ("A", 300L, 0), ("B", 500L, 3))
      .toDF("host", "time_us", "level")
    val candidates = Seq(
      ("A", 50L, "e1"),  // before inhibition
      ("A", 100L, "e2"), // at the inhibiting instant → suppressed (tie rule)
      ("A", 200L, "e3"), // inside the window
      ("A", 300L, "e4"), // at recovery → released
      ("A", 400L, "e5"), // after recovery
      ("B", 400L, "e6"), // other host, before ITS inhibition
      ("B", 600L, "e7")) // other host, inhibited
      .toDF("host", "time_us", "name")
    val out = AlertTopics.applyInhibitors(candidates, inhibitorEvents, Seq("host"))
      .select("name", "inhibited").as[(String, Boolean)].collect().toMap
    assert(out == Map("e1" -> false, "e2" -> true, "e3" -> true, "e4" -> false,
      "e5" -> false, "e6" -> false, "e7" -> true))
  }

  test("topic fan-out delivers each event to every subscribed handler") {
    val events = Seq(("system_alerts", "ev1"), ("db_alerts", "ev2")).toDF("topic", "name")
    val subs = Seq(("system_alerts", "slack"), ("system_alerts", "pagerduty"),
      ("db_alerts", "log")).toDF("topic", "handler")
    val out = AlertTopics.fanOut(events, subs)
      .select("name", "handler").as[(String, String)].collect().toSet
    assert(out == Set(("ev1", "slack"), ("ev1", "pagerduty"), ("ev2", "log")))
  }

  test("handler match expressions filter events like the reference's newMatchHandler") {
    // services/alert/handlers.go:372-521: changed()/level()/name()/
    // taskName()/alertDuration() + OK/INFO/WARNING/CRITICAL identifiers
    val ev = Seq(
      ("cpu", 3, 0, "cpu", "t1", 10.0),  // changed, CRITICAL
      ("cpu", 2, 2, "cpu", "t1", 300.0), // unchanged WARNING, 5m in
      ("cpu", 0, 3, "mem", "t2", 0.0))   // recovery to OK
      .toDF("topic", "level", "prev_level", "name", "task", "dur_s")
    def m(s: String) = AlertTopics.matchColumn(s, col("level"), col("prev_level"),
      col("name"), col("task"), col("dur_s"))
    assert(ev.filter(m("changed() == TRUE")).count() === 2)
    assert(ev.filter(m("level() == CRITICAL")).count() === 1)
    assert(ev.filter(m("level() >= WARNING AND name() == 'cpu'")).count() === 2)
    assert(ev.filter(m("changed() == TRUE AND level() == OK")).count() === 1)
    assert(ev.filter(m("alertDuration() > 60.0")).count() === 1)
    assert(ev.filter(m("taskName() =~ 't[0-9]'")).count() === 3)
    // an absent/empty match line is match-all (the reference only wraps
    // in newMatchHandler when spec.Match != "")
    assert(ev.filter(m("")).count() === 3)
    // reference parity on refusals: unknown identifier (the AST walk),
    // unknown function (we refuse at compile, the reference at eval),
    // and a known function with arguments gets the reference's error
    intercept[IllegalArgumentException](m("UNKNOWN == 1"))
    intercept[IllegalArgumentException](m("bogus() == TRUE"))
    val eArgs = intercept[IllegalArgumentException](m("changed(1) == TRUE"))
    assert(eArgs.getMessage.contains("changed takes no arguments"))
    // a LoadDir handler spec's match line binds directly
    val reg = new graft.tick.TaskRegistry
    val loaded = graft.tick.LoadDir.load(RefFixtures.path("examples/load"), reg)
    assert(ev.filter(m(loaded.handlers.head.matchExpr)).count() === 2)
  }

  test("eventStates and topicStates follow the topics.go laws") {
    import spark.implicits._
    import graft.streaming.AlertTopics
    // two topics; event u1 in t1 peaks CRITICAL then recovers to OK,
    // u2 stays WARNING; t2 has a single INFO event
    val ev = Seq(
      ("t1", "u1", 1000L, 3), // CRITICAL (historical)
      ("t1", "u1", 2000L, 0), // recovered — CURRENT level is OK
      ("t1", "u2", 1500L, 2), // WARNING (current)
      ("t2", "u9", 1200L, 1)  // INFO (current)
    ).toDF("topic", "id", "time_us", "level")

    // latest-wins per (topic,id); minLevel filters CURRENT level
    val states = AlertTopics.eventStates(ev).orderBy("topic", "id")
      .as[(String, String, Long, Int)].collect().toSeq
    assert(states === Seq(("t1", "u1", 2000L, 0), ("t1", "u2", 1500L, 2),
      ("t2", "u9", 1200L, 1)))
    assert(AlertTopics.eventStates(ev, minLevel = 2)
      .as[(String, String, Long, Int)].collect().toSeq ===
      Seq(("t1", "u2", 1500L, 2)))

    // topic level = max of CURRENT states (u1's historical CRITICAL
    // does not count); collected = total events ever
    val ts = AlertTopics.topicStates(ev).orderBy("topic")
      .as[(String, Int, Long)].collect().toSeq
    assert(ts === Seq(("t1", 2, 3L), ("t2", 1, 1L)))
    // minLevel filters topics by their current max level
    assert(AlertTopics.topicStates(ev, minLevel = 2)
      .as[(String, Int, Long)].collect().toSeq === Seq(("t1", 2, 3L)))
    // path.Match glob on the topic id
    assert(AlertTopics.topicStates(ev, pattern = "t?")
      .count() === 2)
    assert(AlertTopics.topicStates(ev, pattern = "t2")
      .as[(String, Int, Long)].collect().toSeq === Seq(("t2", 1, 1L)))
    assert(AlertTopics.topicStates(ev, pattern = "x*").count() === 0)
  }
  test("aggregate handler folds an interval's events into one (TestServer_AlertHandlers aggregate)") {
    // server_test.go:12000-12120: three CRITICAL events at 0/1/2 ms with
    // message "message" and durations 0/1/2 ms under interval=100ms
    val events = Seq(
      (0L, 3, 0L, "message", Seq("""{"name":"alert","v":3}""")),
      (1000L, 3, 1000L, "message", Seq("""{"name":"alert","v":4}""")),
      (2000L, 3, 2000L, "message", Seq("""{"name":"alert","v":2}""")))
      .toDF("time_us", "level", "duration_us", "message", "series")
    val out = AlertTopics.aggregateEvents(events, intervalUs = 100000L,
      aggId = "id-agg", outTopic = "tcp", seriesCol = Some("series"))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("topic") === "tcp")
    assert(r.getAs[String]("id") === "id-agg")
    assert(r.getAs[String]("message") === "Received 3 events in the last 100ms.")
    assert(r.getAs[String]("details") === "message\nmessage\nmessage")
    assert(r.getAs[Long]("time_us") === 2000L)
    assert(r.getAs[Int]("level") === 3)
    assert(r.getAs[Long]("duration_us") === 2000L)
    assert(r.getAs[Boolean]("recoverable") === false)
    // member series concatenate in time order
    assert(r.getAs[Seq[String]]("series") === Seq(
      """{"name":"alert","v":3}""", """{"name":"alert","v":4}""",
      """{"name":"alert","v":2}"""))
    // empty intervals emit nothing; events in different buckets fold apart
    val spread = Seq(
      (0L, 1, 0L, "a", Seq.empty[String]),
      (250000L, 2, 0L, "b", Seq.empty[String]))
      .toDF("time_us", "level", "duration_us", "message", "series")
    val two = AlertTopics.aggregateEvents(spread, 100000L, "x", "t")
      .orderBy("time_us").collect()
    assert(two.length === 2)
    assert(two.map(_.getAs[String]("message")).toSeq ===
      Seq("Received 1 events in the last 100ms.",
        "Received 1 events in the last 100ms."))
  }

  test("publish handler republishes to every configured topic") {
    val events = Seq((0L, "orig", "m1"), (1L, "orig", "m2"))
      .toDF("time_us", "topic", "message")
    val out = AlertTopics.publishEvents(events, Seq("t1", "t2"))
      .orderBy("time_us", "topic")
      .select("time_us", "topic", "message").as[(Long, String, String)]
      .collect().toSeq
    assert(out === Seq((0L, "t1", "m1"), (0L, "t2", "m1"),
      (1L, "t1", "m2"), (1L, "t2", "m2")))
  }

  test("Go duration rendering for aggregate intervals") {
    import AlertTopics.goDurationUs
    assert(goDurationUs(100000L) === "100ms")
    assert(goDurationUs(1500L) === "1.5ms")
    assert(goDurationUs(500L) === "500µs")
    assert(goDurationUs(1000000L) === "1s")
    assert(goDurationUs(1500000L) === "1.5s")
    assert(goDurationUs(100000000L) === "1m40s")
    assert(goDurationUs(3600000000L) === "1h0m0s")
    assert(goDurationUs(0L) === "0s")
  }

}
