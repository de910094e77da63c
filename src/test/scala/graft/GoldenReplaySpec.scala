package graft

import graft.api.Pipe
import graft.operators.WindowFSM
import graft.sources.{LineProtocol, ResultRenderer}
import graft.streaming.AlertStream
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The reference's golden-replay test shape (integrations/streamer_test.go:
  * fixture replay → TICKscript pipeline → httpOut Result compare), here:
  * line-protocol fixture → Pipe pipeline → ResultRenderer golden compare.
  * Mirrors the README cpu_alert example: stream|from('cpu')|window|mean|
  * alert(crit: usage > 70). */
class GoldenReplaySpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    "cpu,host=serverA usage=40.0 0",
    "cpu,host=serverA usage=60.0 5000000000",
    "cpu,host=serverA usage=80.0 10000000000",
    "cpu,host=serverA usage=90.0 15000000000",
    "cpu,host=serverB usage=10.0 0",
    "cpu,host=serverB usage=20.0 5000000000",
    "mem,host=serverA used=99.0 0") // different measurement: filtered out

  private def points = {
    val parsed = LineProtocol.toPointFrame(LineProtocol.parse(fixture.toDS()))
    parsed
      .filter(col("measurement") === "cpu")
      .select(
        col("time"),
        expr("tags['host']").as("host"),
        expr("fieldsFloat['usage']").as("usage"))
  }

  test("replayed fixture through window|mean matches the golden Result") {
    val p = Pipe(points, timeCol = "time", dims = Seq("host"))
      .windowTumbling(10, "bucket_s")
    val agg = p.df.groupBy("host", "bucket_s")
      .agg(avg("usage").as("mean_usage"))
      .orderBy("host", "bucket_s")
    val result = ResultRenderer.render(agg, "cpu", Seq("host"))
    // golden: serverA → buckets 0s (mean 50) and 10s (mean 85); serverB → 15
    assert(result.series.map(_.tags("host")) == Seq("serverA", "serverB"))
    val a = result.series.head
    assert(a.columns == Seq("bucket_s", "mean_usage"))
    assert(a.values == Seq(Seq(0L, 50.0), Seq(10L, 85.0)))
    val b = result.series(1)
    assert(b.values == Seq(Seq(0L, 15.0)))
    // and the JSON tap renders the same shape the reference serves
    val json = ResultRenderer.toJson(result)
    assert(json.contains(""""tags":{"host":"serverA"}""") && json.contains("85"))
  }

  test("reference TestStream_ChangeDetect fixture reproduces the reference's golden Result") {
    // integrations/testdata/TestStream_ChangeDetect.srpl through the
    // TestStream_ChangeDetect pipeline (streamer_test.go:169-216):
    //   stream |from().measurement('packets') |changeDetect('value')
    //          |window().period(10s).every(10s) |httpOut(...)
    // Expected (from the reference test, first full window):
    //   t=0 bad, t=1 good, t=2 bad, t=5 good, t=7 bad, t=8 good
    val srpl = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata("TestStream_ChangeDetect.srpl"))
    // fixture timestamps are whole seconds; the tracked field is a string
    val pts = srpl.select(
      col("measurement"),
      timestamp_seconds(col("ts_ns")).as("time"),
      expr("fieldsStr['value']").as("value"))
      .filter(col("measurement") === "packets")
      // reference changeDetect skips points missing the tracked field
      // (change_detect.go logs and drops them)
      .filter(col("value").isNotNull)
    val p = Pipe(pts, timeCol = "time", dims = Nil)
      .changeDetect("value")
      .windowTumbling(10)
    val firstWindow = p.df.filter(col("bucket_s") === 0)
      .orderBy("time")
      .select(unix_timestamp(col("time")).as("t"), col("value"))
      .as[(Long, String)].collect().toSeq
    assert(firstWindow == Seq(
      (0L, "bad"), (1L, "good"), (2L, "bad"), (5L, "good"), (7L, "bad"), (8L, "good")))
  }

  // ---- reference window integration fixtures (streamer_test.go:796-1580).
  // The replay harness re-bases the first point onto the fake clock's zero
  // (ReplayStreamFromIO with precision "s"), so times become 0-based seconds;
  // httpOut caches the LAST emitted batch, which is what each test compares.
  private def srplValues(name: String, host: String = "serverA") = {
    val df = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata(s"$name.srpl"))
      .filter(col("measurement") === "cpu" && expr("tags['host']") === host)
      .select(col("ts_ns").as("ts"), expr("fieldsFloat['value']").as("value"))
    val mn = df.agg(min("ts")).head.getLong(0)
    df.withColumn("time", timestamp_seconds(col("ts") - mn)).drop("ts")
  }

  private def lastBatch(name: String, period: Long, every: Long,
      align: Boolean, fillPeriod: Boolean): (Long, Seq[(Long, Double)]) = {
    val w = WindowFSM.windowByTime(srplValues(name), "time", Nil, period, every,
      align = align, fillPeriod = fillPeriod)
    val last = w.agg(max("wemit_us")).head.getLong(0)
    (last / 1000000L,
      w.filter(col("wemit_us") === last).orderBy("time")
        .select(unix_timestamp(col("time")), col("value"))
        .as[(Long, Double)].collect().toSeq)
  }

  test("TestStream_Window golden: period 10s / every 10s final window") {
    val (emit, batch) = lastBatch("TestStream_Window", 10, 10, align = false, fillPeriod = false)
    assert(emit == 10L)
    assert(batch == Seq(0L -> 97.1, 1L -> 92.6, 2L -> 95.6, 3L -> 93.1, 4L -> 92.6,
      5L -> 95.8, 6L -> 92.7, 7L -> 96.0, 8L -> 93.4, 9L -> 95.3))
  }

  test("TestStream_Window_FillPeriod golden: first emit waits a full period") {
    val (emit, batch) = lastBatch("TestStream_Window_FillPeriod", 14, 10, align = false, fillPeriod = true)
    assert(emit == 14L)
    assert(batch.map(_._1) == (0L to 13L) &&
      batch.map(_._2) == Seq(93.1, 97.1, 92.6, 95.6, 93.1, 92.6, 95.8, 92.7, 96.0, 93.4, 95.3, 96.4, 95.1, 91.1))
  }

  test("TestStream_Window_FillPeriod_Aligned golden: aligned first boundary after t0+period") {
    val (emit, batch) = lastBatch("TestStream_Window_FillPeriod_Aligned", 14, 10, align = true, fillPeriod = true)
    assert(emit == 20L)
    assert(batch.map(_._1) == (6L to 19L) &&
      batch.map(_._2) == Seq(95.8, 92.7, 96.0, 93.4, 95.3, 96.4, 95.1, 91.1, 95.7, 96.2, 96.6, 91.2, 98.2, 96.1))
  }

  test("TestStream_WindowMissing golden: sparse data emits at trigger-derived times") {
    val (emit, batch) = lastBatch("TestStream_WindowMissing", 3, 2, align = false, fillPeriod = false)
    assert(emit == 11L && batch.size == 3) // count('value') == 3.0 at 00:00:11
    assert(batch.map(_._1) == Seq(8L, 9L, 10L))
  }

  test("TestStream_WindowMissingAligned golden: aligned sparse emission") {
    val (emit, batch) = lastBatch("TestStream_WindowMissing", 3, 2, align = true, fillPeriod = false)
    assert(emit == 10L && batch.size == 3) // count('value') == 3.0 at 00:00:10
    assert(batch.map(_._1) == Seq(7L, 8L, 9L))
  }

  test("declarative windowAligned reproduces the aligned FSM emission set exactly") {
    for (name <- Seq("TestStream_WindowMissing", "TestStream_Window_FillPeriod_Aligned");
         fp <- Seq(false, true)) {
      val pts = srplValues(name)
      val fsm = WindowFSM.windowByTime(pts, "time", Nil, 3, 2, align = true, fillPeriod = fp)
        .select(col("wemit_us") / 1000000L, col("time"), col("value"))
        .as[(Double, java.sql.Timestamp, Double)].collect().toSet
      val decl = Pipe(pts, timeCol = "time", dims = Nil)
        .windowAligned(3, 2, fillPeriod = fp).df
        .select(col("wemit_s").cast("double"), col("time"), col("value"))
        .as[(Double, java.sql.Timestamp, Double)].collect().toSet
      assert(decl == fsm, s"fixture $name fillPeriod=$fp")
    }
  }

  // ---- transform + window fixtures (streamer_test.go:264-760, 2449-2710,
  // 4656-5900, 8507+, 12697-12860). Each reference test replays its .srpl,
  // runs a TICKscript, and compares httpOut's LAST cached batch; here the
  // same pipeline runs through Pipe/WindowFSM/InfluxQL and the final FSM
  // emission is compared against the reference's literal expectation.

  /** Whole-fixture read with the replay harness's re-basing: all points
    * shift so the stream's first point lands on t=0 (replay.go precision
    * 's'; fixtures carry plain-second timestamps). */
  private def srplRebased(name: String) = {
    val df = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata(s"$name.srpl"))
    val mn = df.agg(min("ts_ns")).head.getLong(0)
    df.withColumn("time", timestamp_seconds(col("ts_ns") - mn))
  }

  private def fieldPts(name: String, meas: String, where: Column = lit(true)) =
    srplRebased(name)
      .filter(col("measurement") === meas && where)
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
      .filter(col("value").isNotNull)

  /** (emit_s, rows-of-last-batch) for an already-transformed point stream. */
  private def lastFsmBatch(df: org.apache.spark.sql.DataFrame, period: Long,
      every: Long, align: Boolean = false): (Long, Seq[Row]) = {
    val w = WindowFSM.windowByTime(df, "time", Nil, period, every, align = align)
    val last = w.agg(max("wemit_us")).head.getLong(0)
    (last / 1000000L, w.filter(col("wemit_us") === last).orderBy("time").collect().toSeq)
  }

  test("TestStream_Derivative golden: derivative|window(10s,10s)|mean") {
    val der = Pipe(fieldPts("TestStream_Derivative", "packets"), "time", Nil)
      .derivative("value").df
    val (emit, rows) = lastFsmBatch(der.select(col("time"), col("derivative")), 10, 10)
    assert(emit == 11L)
    val mean = rows.map(_.getDouble(1)).sum / rows.size
    assert(mean == 1.0)
  }

  test("TestStream_DerivativeZeroElapsed golden: same-timestamp pair emits nothing") {
    // two points at t=1 (derivative.go:147-150): the pair is dropped but
    // still becomes the next previous; window count = 9 at emit 11
    val der = Pipe(fieldPts("TestStream_DerivativeZeroElapsed", "packets"), "time", Nil)
      .derivative("value").df
    val (emit, rows) = lastFsmBatch(der.select(col("time"), col("derivative")), 10, 10)
    assert(emit == 11L && rows.size == 9)
    assert(rows.forall(r => !r.getDouble(1).isInfinite))
  }

  test("TestStream_ChangeDetect_Many golden: any tracked field change emits") {
    // changeDetect('a','b'): untracked field c never triggers; b's 1→0
    // flip does (streamer_test.go:218-264)
    val pts = srplRebased("TestStream_ChangeDetect_Many")
      .filter(col("measurement") === "packets")
      .select(col("time"), expr("fieldsStr['a']").as("a"), expr("fieldsFloat['b']").as("b"))
    val out = Pipe(pts, "time", Nil).changeDetect("a", "b").df
      .orderBy("time")
      .select(unix_timestamp(col("time")), col("a"), col("b"))
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((0L, "bad", 0.0), (1L, "good", 0.0), (4L, "bad", 1.0),
      (5L, "bad", 0.0), (6L, "pump", 2.0)))
  }

  test("TestStream_DerivativeNN golden: nonNegative drops falls, plain keeps them") {
    // with .nonNegative() the two falls vanish → mean 1.0; without, the
    // same window means -99.7 (streamer_test.go DerivativeNN pair)
    val pts = fieldPts("TestStream_DerivativeNN", "packets")
    for ((nn, expected) <- Seq(true -> 1.0, false -> -99.7)) {
      val der = Pipe(pts, "time", Nil).derivative("value", nonNegative = nn).df
      val (emit, rows) = lastFsmBatch(der.select(col("time"), col("derivative")), 10, 10)
      assert(emit == 11L, s"nonNegative=$nn")
      val mean = rows.map(_.getDouble(1)).sum / rows.size
      assert(math.abs(mean - expected) < 1e-9, s"nonNegative=$nn mean=$mean")
    }
  }

  test("TestStream_Elapsed golden: elapsed(1s)|window(10s,10s)|max") {
    val el = Pipe(fieldPts("TestStream_Elapsed", "packets"), "time", Nil)
      .elapsed(1.0).df
    val (emit, rows) = lastFsmBatch(el.select(col("time"), col("elapsed")), 10, 10)
    assert(emit == 11L)
    assert(rows.map(_.getDouble(1)).max == 4.0)
  }

  test("TestStream_Difference golden: difference|window(10s,10s)|max") {
    val d = Pipe(fieldPts("TestStream_Difference", "packets"), "time", Nil)
      .difference("value").df
    val (emit, rows) = lastFsmBatch(d.select(col("time"), col("difference")), 10, 10)
    assert(emit == 11L)
    assert(rows.map(_.getDouble(1)).max == 5.0)
  }

  test("TestStream_MovingAverage golden: movingAverage(4)|window(10s,10s)") {
    val ma = Pipe(fieldPts("TestStream_MovingAverage", "packets"), "time", Nil)
      .movingAverage("value", 4).df
    val (emit, rows) = lastFsmBatch(
      ma.select(col("time"), col("movingAverage")), 10, 10)
    assert(emit == 13L)
    assert(rows.map(r => (unix_ts(r), r.getDouble(1))) == Seq(
      3L -> 1001.5, 4L -> 1005.0, 5L -> 1008.5, 6L -> 1012.0, 7L -> 1015.5,
      8L -> 1016.5, 9L -> 1017.5, 10L -> 1018.5, 11L -> 1019.5, 12L -> 1020.5))
  }

  test("TestStream_CumulativeSum golden: cumulativeSum|window(10s,10s)") {
    val cs = Pipe(fieldPts("TestStream_CumulativeSum", "packets"), "time", Nil)
      .cumulativeSum("value").df
    val (emit, rows) = lastFsmBatch(
      cs.select(col("time"), col("cumulativeSum")), 10, 10)
    assert(emit == 10L)
    assert(rows.map(r => (unix_ts(r), r.getDouble(1))) ==
      (0L to 9L).zip(Seq(0.0, 0.0, 1.0, 3.0, 6.0, 10.0, 15.0, 21.0, 28.0, 36.0)))
  }

  test("TestStream_SimpleMR golden: where(host=serverA)|window(10s,10s)|count") {
    val pts = fieldPts("TestStream_SimpleMR", "cpu", expr("tags['host']") === "serverA")
    val (emit, rows) = lastFsmBatch(pts, 10, 10)
    assert(emit == 10L && rows.size == 10)
  }

  test("TestStream_Union golden: union of three filtered streams|window|count") {
    val base = srplRebased("TestStream_Union").filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['cpu']").as("cpu"), expr("fieldsFloat['value']").as("value"))
    def sub(v: String) = Pipe(base.filter(col("cpu") === v), "time", Nil)
    val u = sub("total").unionRename("cpu_all", sub("0"), sub("1"))
    val (emit, rows) = lastFsmBatch(u.df.select(col("time"), col("value")), 10, 10)
    assert(u.measurement.contains("cpu_all"))
    assert(emit == 10L && rows.size == 20)
  }

  test("TestStream_Sample_Count golden: sample(2)|window(4s,4s,align)") {
    val sampled = Pipe(fieldPts("TestStream_Sample", "packets"), "time", Nil).sampleN(2).df
    val (emit, rows) = lastFsmBatch(sampled, 4, 4, align = true)
    assert(emit == 8L)
    assert(rows.map(r => (unix_ts(r), r.getDouble(1))) == Seq(4L -> 1004.0, 6L -> 1006.0))
  }

  test("TestStream_Sample_Time golden: sample(3s)|window(4s,4s,align)") {
    val sampled = Pipe(fieldPts("TestStream_Sample", "packets"), "time", Nil).sampleEvery(3).df
    val (emit, rows) = lastFsmBatch(sampled, 4, 4, align = true)
    assert(emit == 8L)
    assert(rows.map(r => (unix_ts(r), r.getDouble(1))) == Seq(6L -> 1006.0))
  }

  test("TestStream_Shift golden: shifted past vs current window counts join") {
    val pts = fieldPts("TestStream_Shift", "cpu", expr("tags['host']") === "serverA")
    val counts = WindowFSM.windowByTime(pts, "time", Nil, 5, 5, align = true)
      .groupBy("wemit_us").agg(count("value").as("count"))
    // past |shift(5s): emit times move forward one period, then join(current)
    val past = counts.select((col("wemit_us") + 5000000L).as("wemit_us"),
      col("count").as("past_count"))
    val cur = counts.select(col("wemit_us"), col("count").as("current_count"))
    val joined = past.join(cur, "wemit_us")
      .withColumn("diff", col("current_count") - col("past_count"))
      .orderBy("wemit_us").collect()
    val lastRow = joined.last
    assert(lastRow.getLong(0) == 10000000L && lastRow.getLong(1) == 4L &&
      lastRow.getLong(2) == 5L && lastRow.getLong(3) == 1L)
  }

  test("TestStream_Join golden: per-service aligned sums join to error_percent") {
    val base = srplRebased("TestStream_Join")
    def side(m: String) = base.filter(col("measurement") === m)
      .select(expr("tags['service']").as("service"), col("time"),
        expr("fieldsFloat['value']").as("value"))
    def sums(m: String, as: String) =
      WindowFSM.windowByTime(side(m), "time", Seq("service"), 10, 10, align = true)
        .groupBy("service", "wemit_us").agg(sum("value").as(as))
    val j = sums("errors", "errors_sum").join(sums("views", "views_sum"),
        Seq("service", "wemit_us"))
      .withColumn("error_percent", col("errors_sum") / col("views_sum"))
    val lastEmit = j.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    val rows = j.filter(col("wemit_us") === lastEmit)
      .select("service", "errors_sum", "views_sum", "error_percent")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(rows == Map(
      "cartA" -> ((47.0, 4700.0, 0.01)),
      "login" -> ((45.0, 4500.0, 0.01)),
      "front" -> ((32.0, 3200.0, 0.01))))
  }

  test("TestStream_Selectors golden: last carries the selected point's other fields") {
    val pts = srplRebased("TestStream_Selectors")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"),
        expr("fieldsFloat['another']").as("another"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    // selector keeps the whole winning point; result is stamped with the
    // batch emit time (influxql.go non-usePointTimes path)
    val sel = w.filter(col("wemit_us") === lastEmit)
      .agg(max_by(struct(col("value"), col("another")), col("time")).as("p"))
      .select("p.value", "p.another").head
    assert(sel.getDouble(0) == 95.3 && sel.getDouble(1) == 5.0)
  }

  test("TestStream_TopSelector golden: last per player then top(5) per game") {
    val pts = srplRebased("TestStream_TopSelector")
      .filter(col("measurement") === "scores")
      .select(expr("tags['game']").as("game"), expr("tags['player']").as("player"),
        col("time"), expr("fieldsFloat['value']").as("value"))
    val lastPer = WindowFSM
      .windowByTime(pts, "time", Seq("game", "player"), 2, 2, align = true)
      .groupBy("game", "player", "wemit_us")
      .agg(max_by(col("value"), col("time")).as("last"))
    // stream-mode InfluxQL nodes flush a timestamp's buffer only when a
    // newer point arrives (influxql.go stream context): the final window
    // emission (two straggler groups at t=6) is never followed, so httpOut
    // keeps the second-to-last distinct emit time.
    val emits = lastPer.select("wemit_us").distinct().orderBy("wemit_us")
      .collect().map(_.getLong(0))
    val lastEmit = emits(emits.length - 2)
    assert(lastEmit == 4000000L)
    val p = Pipe(lastPer.filter(col("wemit_us") === lastEmit)
      .withColumn("t", timestamp_micros(col("wemit_us"))), timeCol = "t", dims = Seq("game"))
    val top5 = graft.operators.InfluxQL.top(p, Seq("game"), "last", 5, carry = Seq("player"))
      .orderBy(col("game"), col("rk"))
      .select(col("game"), col("player"), col("top"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(top5 == Seq(
      ("g0", "p7", 978.0), ("g0", "p10", 957.0), ("g0", "p9", 878.0),
      ("g0", "p5", 877.0), ("g0", "p15", 791.0),
      ("g1", "p19", 926.0), ("g1", "p12", 887.0), ("g1", "p0", 879.0),
      ("g1", "p15", 872.0), ("g1", "p16", 863.0)))
  }

  test("TestStream_JoinN golden: 3-way exact-time join with fill(0.0)") {
    val base = srplRebased("TestStream_JoinN")
    def side(m: String, tag: String, v: String) = Pipe(base
      .filter(col("measurement") === m && expr(s"tags['$tag']") === v)
      .select(col("time"), expr("fieldsFloat['value']").as("value")), "time", Nil)
    val joined = side("cpu", "cpu", "total").joinMulti("cpu",
      Seq((side("memory", "type", "free"), "mem"), (side("disk", "device", "sda"), "disk")),
      fill = Pipe.FillValue(0.0))
    // |window(10s,10s)|count('cpu.value'): fill makes every joined row carry
    // a cpu_value, so the count is the row count of the final window
    val pts = joined.select(timestamp_micros(col("jt_us")).as("time"), col("cpu_value"))
    val (emit, rows) = lastFsmBatch(pts, 10, 10)
    assert(emit == 10L && rows.size == 10 && rows.forall(!_.isNullAt(1)))
  }

  test("TestStream_Join_Fill golden: outer join fill(0) keeps unmatched points") {
    val base = srplRebased("TestStream_Join_Fill")
    def side(m: String) = Pipe(base.filter(col("measurement") === m)
      .select(col("time"), expr("tags['service']").as("service"),
        expr("fieldsFloat['value']").as("value")), "time", dims = Seq("service"))
    val joined = side("errors").joinMulti("errors", Seq((side("views"), "views")),
      on = Seq("service"), fill = Pipe.FillValue(0.0))
    val pts = joined.select(col("service"), timestamp_micros(col("jt_us")).as("time"),
      (col("errors_value") + col("views_value")).as("error_percent"))
    val w = WindowFSM.windowByTime(pts, "time", Seq("service"), 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    val counts = w.filter(col("wemit_us") === lastEmit)
      .groupBy("service").agg(count("error_percent").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("cartA" -> 7L, "login" -> 7L, "front" -> 8L))
  }

  test("TestStream_JoinOn golden: coarser side joins onto finer dims via on()") {
    val base = srplRebased("TestStream_JoinOn")
    val errs = base.filter(col("measurement") === "errors")
      .select(expr("tags['service']").as("service"), expr("tags['dc']").as("dc"),
        col("time"), expr("fieldsFloat['value']").as("value"))
    val globalSums = WindowFSM.windowByTime(
        errs.select(col("service"), col("time"), col("value")),
        "time", Seq("service"), 10, 10, align = true)
      .groupBy("service", "wemit_us").agg(sum("value").as("sum"))
      .withColumn("t", timestamp_micros(col("wemit_us"))).drop("wemit_us")
    val dcSums = WindowFSM.windowByTime(errs, "time", Seq("service", "dc"), 10, 10, align = true)
      .groupBy("service", "dc", "wemit_us").agg(sum("value").as("sum"))
      .withColumn("t", timestamp_micros(col("wemit_us"))).drop("wemit_us")
    val j = Pipe(globalSums, "t", Seq("service"))
      .joinMulti("service", Seq((Pipe(dcSums, "t", Seq("service", "dc")), "dc")),
        on = Seq("service"))
      .withColumn("value", col("dc_sum") / col("service_sum"))
    val rows = j.filter(col("jt_us") === 10000000L)
      .select("dc", "service", "dc_sum", "service_sum", "value")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows(("A", "cartA")) == ((15.0, 47.0, 15.0 / 47.0)))
    assert(rows(("B", "cartA")) == ((32.0, 47.0, 32.0 / 47.0)))
    assert(rows(("A", "login")) == ((15.0, 45.0, 15.0 / 45.0)))
    assert(rows(("B", "login")) == ((23.0, 45.0, 23.0 / 45.0)))
  }

  test("TestStream_AllMeasurements golden: from() without a measurement filter") {
    // stream|from()|window(10,10)|count('value'): every measurement's
    // points count together → 23 at emit 10
    val pts = srplRebased("TestStream_AllMeasurements")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
      .filter(col("value").isNotNull)
    val (emit, rows) = lastFsmBatch(pts, 10, 10)
    assert(emit == 10L && rows.size == 23)
  }

  test("TestStream_JoinOn_AcrossMeasurement golden: on() joins across measurements") {
    // building_power (by building) joined onto floor_power (by building,
    // floor) via on('building'), exact time, no windows
    val base = srplRebased("TestStream_JoinOn_AcrossMeasurement")
    val building = Pipe(base.filter(col("measurement") === "building_power")
      .select(col("time"), expr("tags['building']").as("building"),
        expr("fieldsFloat['value']").as("value")), "time", Seq("building"))
    val floor = Pipe(base.filter(col("measurement") === "floor_power")
      .select(col("time"), expr("tags['building']").as("building"),
        expr("tags['floor']").as("floor"), expr("fieldsFloat['value']").as("value")),
      "time", Seq("building", "floor"))
    val rows = building.joinMulti("building", Seq((floor, "floor")), on = Seq("building"))
      .withColumn("value", col("floor_value") / col("building_value"))
      .collect().map(r => (r.getAs[String]("building"), r.getAs[String]("floor")) ->
        r.getAs[Double]("value")).toMap
    assert(rows == Map(
      ("shack", "1") -> 7.0 / 30.0, ("shack", "2") -> 11.0 / 30.0,
      ("shack", "3") -> 12.0 / 30.0,
      ("hut", "1") -> 19.0 / 40.0, ("hut", "2") -> 21.0 / 40.0))
  }

  test("TestStream_AlertDuration golden: duration tracks the non-OK episode") {
    import AlertStream._
    // warn: value>7, crit: value>8, stateChangesOnly
    // (streamer_test.go:8507-8686: five posts with durations 0,2,4,0,3s)
    val pts = srplRebased("TestStream_AlertDuration")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(lit("serverA").as("group"), unix_micros(col("time")).as("timeUs"),
        lit(false).as("pass1"),
        (expr("fieldsFloat['value']") > 7).as("pass2"),
        (expr("fieldsFloat['value']") > 8).as("pass3"),
        lit(true).as("reset1"), lit(true).as("reset2"), lit(true).as("reset3"))
      .as[AlertPoint]
    val events = runBatch(pts, AlertConfig(stateChangesOnly = true))
      .collect().sortBy(_.timeUs)
      .map(e => (e.timeUs / 1000000L, e.levelName, e.durationUs / 1000000L)).toSeq
    assert(events == Seq(
      (0L, "CRITICAL", 0L), (2L, "WARNING", 2L), (4L, "OK", 4L),
      (5L, "WARNING", 0L), (8L, "OK", 3L)))
  }

  /** (group, timeUs, value) AlertPoints for one host of an alert fixture. */
  private def alertPoints(name: String, host: String,
      pass1: Column => Column, pass2: Column => Column, pass3: Column => Column,
      reset1: Column => Column = _ => lit(true),
      reset2: Column => Column = _ => lit(true),
      reset3: Column => Column = _ => lit(true)) = {
    val v = expr("fieldsFloat['value']")
    srplRebased(name)
      .filter(col("measurement") === "cpu" && expr("tags['host']") === host)
      .select(lit(host).as("group"), unix_micros(col("time")).as("timeUs"),
        pass1(v).as("pass1"), pass2(v).as("pass2"), pass3(v).as("pass3"),
        reset1(v).as("reset1"), reset2(v).as("reset2"), reset3(v).as("reset3"))
      .as[AlertStream.AlertPoint]
  }

  private def eventTriples(events: Array[AlertStream.AlertEvent]) =
    events.sortBy(_.timeUs)
      .map(e => (e.timeUs / 1000000L, e.levelName, e.durationUs / 1000000L)).toSeq

  test("TestStream_Alert_WithReset_0 golden: reset hysteresis holds levels") {
    import AlertStream._
    // info>40/warn>60/crit>80; resets <10/<20/<30 (streamer_test.go:7713-8046)
    val pts = alertPoints("TestStream_Alert_WithReset_0", "serverA",
      _ > 40, _ > 60, _ > 80, _ < 10, _ < 20, _ < 30)
    val events = runBatch(pts,
      AlertConfig(resetDefined = Seq(true, true, true)))
    assert(eventTriples(events.collect()) == Seq(
      (0L, "INFO", 0L), (1L, "INFO", 1L), (2L, "INFO", 2L), (3L, "OK", 3L),
      (4L, "INFO", 0L), (5L, "WARNING", 1L), (6L, "WARNING", 2L), (7L, "OK", 3L),
      (8L, "INFO", 0L), (9L, "WARNING", 1L), (10L, "CRITICAL", 2L), (11L, "OK", 3L)))
  }

  test("TestStream_Alert_NoRecoveries golden: recoveries suppressed, episodes reset") {
    import AlertStream._
    // info>=6/warn>=7/crit>=8, noRecoveries (streamer_test.go:7515-7712)
    val pts = alertPoints("TestStream_Alert_NoRecoveries", "serverA",
      _ >= 6, _ >= 7, _ >= 8)
    val events = runBatch(pts, AlertConfig(noRecoveries = true))
    assert(eventTriples(events.collect()) == Seq(
      (0L, "WARNING", 0L), (2L, "INFO", 0L), (3L, "WARNING", 1L),
      (4L, "WARNING", 2L), (5L, "CRITICAL", 3L), (7L, "INFO", 0L)))
  }

  test("TestStream_AlertSigma golden: running sigma values and the two events") {
    import AlertStream._
    // eval sigma |alert(info: sigma>2, warn: >3, crit: >3.5) → exactly two
    // posts: INFO@7s (sigma 2.469916402324427) and OK@8s
    // (streamer_test.go:11157-11246)
    val pts = srplRebased("TestStream_AlertSigma")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val sig = pts.withColumn("sigma",
      graft.functions.TickFunctions.sigma(col("value"), Nil, col("time")))
    val s7 = sig.filter(unix_timestamp(col("time")) === 7).select("sigma").head.getDouble(0)
    val s8 = sig.filter(unix_timestamp(col("time")) === 8).select("sigma").head.getDouble(0)
    assert(math.abs(s7 - 2.469916402324427) < 1e-9)
    assert(math.abs(s8 - 0.3053477916297622) < 1e-9)
    val ap = sig.select(lit("serverA").as("group"), unix_micros(col("time")).as("timeUs"),
      (col("sigma") > 2.0).as("pass1"), (col("sigma") > 3.0).as("pass2"),
      (col("sigma") > 3.5).as("pass3"),
      lit(true).as("reset1"), lit(true).as("reset2"), lit(true).as("reset3"))
      .as[AlertStream.AlertPoint]
    val events = runBatch(ap, AlertConfig())
    assert(eventTriples(events.collect()) == Seq((7L, "INFO", 0L), (8L, "OK", 1L)))
  }

  test("TestStream_AlertComplexWhere golden: stateful sigma inside a where predicate") {
    // where(host=='serverA' AND sigma(value) > 2): the lazy AND means sigma
    // runs over serverA points only; exactly one point passes — the t=7
    // outlier (value 16.0); crit(TRUE) fires once
    val pts = srplRebased("TestStream_AlertComplexWhere")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val passed = pts.withColumn("sigma",
        graft.functions.TickFunctions.sigma(col("value"), Nil, col("time")))
      .filter(col("sigma") > 2)
      .select(unix_timestamp(col("time")), col("value"))
      .as[(Long, Double)].collect().toSeq
    assert(passed == Seq((7L, 16.0)))
  }

  test("TestStream_AlertStateChangesOnlyExpired golden: maxInterval re-emits") {
    import AlertStream._
    // crit: value<97, stateChangesOnly(2s) → five CRITICALs 2s apart then
    // the recovery (streamer_test.go:11327-11396)
    val pts = alertPoints("TestStream_AlertStateChangesOnlyExpired", "serverA",
      _ => lit(false), _ => lit(false), _ < 97)
    val events = runBatch(pts, AlertConfig(
      stateChangesOnly = true, stateChangesOnlyMaxIntervalUs = 2000000L))
    assert(eventTriples(events.collect()) == Seq(
      (1L, "CRITICAL", 0L), (3L, "CRITICAL", 2L), (5L, "CRITICAL", 4L),
      (7L, "CRITICAL", 6L), (9L, "CRITICAL", 8L), (10L, "OK", 9L)))
  }

  test("TestStream_AlertFlapping golden: flapping suppresses the tail alerts") {
    import AlertStream._
    // info v<95 / warn v<94 / crit v<93, flapping(0.25,0.5) history 21 →
    // exactly 9 posts (streamer_test.go:11397-11424)
    val pts = alertPoints("TestStream_AlertFlapping", "serverA",
      _ < 95, _ < 94, _ < 93)
    val events = runBatch(pts, AlertConfig(
      useFlapping = true, flapLow = 0.25, flapHigh = 0.5, historyLen = 21))
    assert(events.count() == 9L)
  }

  test("TestStream_Union_Stepped golden: regrouped union's final per-group point") {
    // union(cpu0, cpu1).rename |groupBy('cpu'): the last point per group
    // (streamer_test.go:5848-6030 final step)
    val base = srplRebased("TestStream_Union_Stepped").filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['cpu']").as("cpu"), expr("fieldsFloat['value']").as("value"))
    def sub(v: String) = Pipe(base.filter(col("cpu") === v), "time", Nil)
    val u = sub("total").unionRename("cpu_all", sub("0"), sub("1")).groupBy("cpu")
    val last = u.df.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cpu").orderBy(col("time").desc)))
      .filter(col("rk") === 1)
      .collect().map(r => r.getString(1) ->
        ((r.getTimestamp(0).toInstant.getEpochSecond, r.getDouble(2)))).toMap
    assert(last == Map(
      "0" -> ((12L, 95.0)), "1" -> ((12L, 95.0)), "total" -> ((11L, 96.0))))
  }

  test("TestStream_GroupBy golden: per-group unaligned windows emit at group-local boundaries") {
    val pts = srplRebased("TestStream_GroupBy").filter(col("measurement") === "errors")
      .select(expr("tags['service']").as("service"), col("time"),
        expr("fieldsFloat['value']").as("value"))
    val sums = WindowFSM.windowByTime(pts, "time", Seq("service"), 10, 10)
      .groupBy("service", "wemit_us").agg(sum("value").as("sum"))
    val last = sums.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("service")
          .orderBy(col("wemit_us").desc)))
      .filter(col("rk") === 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1) / 1000000L, r.getDouble(2)))).toMap
    // front's stream starts 1s later → its unaligned boundary lands at 11
    assert(last == Map("cartA" -> ((10L, 47.0)), "login" -> ((10L, 45.0)),
      "front" -> ((11L, 32.0))))
  }

  test("TestStream_Flatten golden: two-dim flatten synthesizes dim1.dim2.field columns") {
    val combos = for (s <- Seq("auth", "cart", "log"); h <- Seq("server01", "server02"))
      yield s"$s.$h"
    val base = srplRebased("TestStream_Flatten")
      .filter(col("measurement") === "request_latency")
      .select(col("time"), expr("tags['dc']").as("dc"),
        concat_ws(".", expr("tags['service']"), expr("tags['host']")).as("sh"),
        expr("fieldsFloat['value']").as("value"))
    val flat = Pipe(base, "time", Seq("dc", "sh"))
      .flattenOnFields("sh", combos, Seq("value"), 1).df
    // stream-mode flush: the final bucket is never followed, httpOut keeps
    // the first (t=0) bucket
    val rows = flat.filter(col("bucket_s") === 0)
      .collect().map(r => r.getString(0) ->
        combos.map(c => r.getDouble(flat.columns.indexOf(s"$c.value")))).toMap
    // combos order: auth.s01, auth.s02, cart.s01, cart.s02, log.s01, log.s02
    assert(rows("A") == Seq(700.0, 702.0, 800.0, 802.0, 600.0, 602.0))
    assert(rows("B") == Seq(750.0, 752.0, 850.0, 852.0, 650.0, 652.0))
  }

  test("TestStream_FlattenDropOriginalFieldName golden: columns lose the field suffix") {
    // same pipeline as TestStream_Flatten but .dropOriginalFieldName():
    // columns are just `service.host` (streamer_test.go:4427-4474)
    val combos = for (s <- Seq("auth", "cart", "log"); h <- Seq("server01", "server02"))
      yield s"$s.$h"
    val base = srplRebased("TestStream_Flatten")
      .filter(col("measurement") === "request_latency")
      .select(col("time"), expr("tags['dc']").as("dc"),
        concat_ws(".", expr("tags['service']"), expr("tags['host']")).as("sh"),
        expr("fieldsFloat['value']").as("value"))
    val flat = Pipe(base, "time", Seq("dc", "sh"))
      .flattenOnFields("sh", combos, Seq("value"), 1, dropOriginalFieldName = true).df
    assert(flat.columns.toSeq == Seq("dc", "bucket_s") ++ combos)
    val rows = flat.filter(col("bucket_s") === 0)
      .collect().map(r => r.getString(0) ->
        combos.map(c => r.getDouble(flat.columns.indexOf(c)))).toMap
    assert(rows("A") == Seq(700.0, 702.0, 800.0, 802.0, 600.0, 602.0))
    assert(rows("B") == Seq(750.0, 752.0, 850.0, 852.0, 650.0, 652.0))
  }

  test("TestStream_Combine golden: arrival-ordered pairs within a tolerance bucket") {
    // combine(TRUE, TRUE).tolerance(1s): every pair in arrival order
    // (streamer_test.go:4476-4551; ratios 7/6, 7/8, 6/8 per dc)
    val arrival = typedlit(Map("auth" -> 1L, "log" -> 2L, "cart" -> 3L))
    val base = srplRebased("TestStream_Combine")
      .filter(col("measurement") === "request_latency")
      .select(col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("fieldsFloat['value']").as("value"),
        arrival(expr("tags['service']")).as("aid"))
    val pairs = Pipe(base, "time", Seq("dc"), idCol = Some("aid"))
      .combineK(Seq(lit(true), lit(true)), 1, Seq("first", "second"))
      .filter(col("bucket_s") === 0)
      .withColumn("ratio", col("first_value") / col("second_value"))
    val got = pairs.select("dc", "first_service", "second_service", "ratio")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("A", "auth", "log", 700.0 / 600.0), ("A", "auth", "cart", 700.0 / 800.0),
      ("A", "log", "cart", 600.0 / 800.0),
      ("B", "auth", "log", 750.0 / 650.0), ("B", "auth", "cart", 750.0 / 850.0),
      ("B", "log", "cart", 650.0 / 850.0)))
  }

  test("TestStream_Window_Count golden: count windows emit every m-th point") {
    // periodCount/everyCount over 12 same-timestamp points (arrival order =
    // value order); the last emitted batch holds the trailing `period`
    // points of the m·k-th arrival (streamer_test.go:921-1002)
    val pts = srplRebased("TestStream_Window_Count")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val n = pts.count()
    for ((period, every, expected) <- Seq(
        (10, 10, (1 to 10).map(_.toDouble)),       // TestStream_Window_Count
        (3, 1, Seq(10.0, 11.0, 12.0)))) {          // …_Count_Overlapping
      val (df, _) = Pipe(pts, "time", Nil, idCol = Some("value"))
        .windowCount(period)
      val k = n / every // last emission ordinal
      val batch = df
        .filter(col("__rn") > k * every - period && col("__rn") <= k * every)
        .orderBy("__rn").select("value").as[Double].collect().toSeq
      assert(batch == expected, s"period=$period every=$every")
    }
  }

  test("TestStream_Default golden: field and tag defaults patch absent values") {
    // default value=1.0, host='serverA' then where(host=serverA), window
    // [0,10) sum = 57 (streamer_test.go:3071-3100: two points lack the
    // value field, two lack the host tag)
    val pts = srplRebased("TestStream_Default").filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    val p = Pipe(pts, "time", Nil)
      .default("value" -> 1.0, "host" -> "serverA")
      .where(col("host") === "serverA")
    val (emit, rows) = lastFsmBatch(p.df.select(col("time"), col("value")), 10, 10)
    assert(emit == 10L)
    assert(rows.map(_.getDouble(1)).sum == 57.0)
  }

  test("TestStream_Delete_GroupBy golden: deleting a grouped tag regroups") {
    // groupBy(host,type) |delete(type) |window(2s,2s)|sum: per-host sums
    // merge the former (host,type) groups (streamer_test.go Delete_GroupBy)
    val pts = srplRebased("TestStream_Delete_GroupBy")
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("tags['type']").as("type"), expr("fieldsFloat['value']").as("value"))
    val p = Pipe(pts, "time", Seq("host", "type")).delete("type", "anothervalue")
    assert(p.dims == Seq("host"))
    val sums = WindowFSM.windowByTime(p.df, "time", p.dims, 2, 2)
      .groupBy("host", "wemit_us").agg(sum("value").as("sum"))
      .filter(col("wemit_us") === 2000000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(sums == Map("serverA" -> 18.0, "serverB" -> 12.0, "serverC" -> 6.0))
  }

  test("TestStream_DefaultEmptyTags golden: empty-string tags count as absent") {
    // default('') is a no-op on an absent tag, default('serverA') then
    // fills, default('serverB') sees it set (streamer_test.go:3103-3131;
    // reference default.go:100-106 conflates missing and empty)
    val pts = srplRebased("TestStream_DefaultEmptyTags")
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['cpu']").as("cpu"),
        expr("tags['host']").as("host"), expr("fieldsFloat['value']").as("value"))
    val out = Pipe(pts, "time", Nil)
      .defaultTags("host" -> "")
      .defaultTags("host" -> "serverA")
      .defaultTags("host" -> "serverB")
      .df.head
    assert(out.getString(1) == "cpu-total" &&
      out.getString(2) == "serverA" && out.getDouble(3) == 9.0)
  }

  test("TestStream_GroupByMeasurement golden: measurement joins the group key") {
    val pts = srplRebased("TestStream_GroupByMeasurement")
      .select(col("measurement"), expr("tags['service']").as("service"),
        col("time"), expr("fieldsFloat['value']").as("value"))
    val sums = WindowFSM
      .windowByTime(pts, "time", Seq("measurement", "service"), 10, 10)
      .groupBy("measurement", "service", "wemit_us").agg(sum("value").as("sum"))
    val last = sums.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("measurement", "service")
          .orderBy(col("wemit_us").desc)))
      .filter(col("rk") === 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2) / 1000000L, r.getDouble(3)))).toMap
    assert(last == Map(
      ("errors", "cartA") -> ((10L, 47.0)), ("errors", "login") -> ((10L, 45.0)),
      ("errors", "front") -> ((11L, 32.0)), ("disk", "sda") -> ((10L, 810.0))))
  }

  test("TestStream_Eval_Keep golden: keep-some hides unlisted evaluated fields") {
    // eval(pos, zero).keep('value0','zero'): 'pos' feeds the second lambda
    // then drops; 'value1'/'other' drop too (streamer_test.go:2777-2816 and
    // 2745-2775 KeepSome)
    val pts = srplRebased("TestStream_Eval_KeepSome")
      .filter(col("measurement") === "types")
      .select(col("time"), expr("fieldsFloat['value0']").as("value0"),
        expr("fieldsFloat['value1']").as("value1"),
        expr("fieldsFloat['other']").as("other"))
    val hidden = Pipe(pts, "time", Nil).evalKeep(Seq("value0", "zero"),
      "pos" -> (col("value0") + col("value1")),
      "zero" -> (col("pos") - col("value1")))
    assert(hidden.df.columns.toSeq == Seq("time", "value0", "zero"))
    val r = hidden.df.head
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    val some = Pipe(pts, "time", Nil).evalKeep(Seq("value0", "pos", "neg", "other"),
      "pos" -> (col("value0") + col("value1")),
      "neg" -> (col("value0") - col("value1")))
    val s = some.df.head
    assert(some.df.columns.toSeq == Seq("time", "value0", "pos", "neg", "other"))
    assert(s.getDouble(2) == 1.0 && s.getDouble(3) == -1.0 && s.getDouble(4) == 5.0)
  }

  test("TestStream_Aggregate_Changing_Type golden: boolean field filters the window") {
    // window(10,10) |where(lambda: "c") |count: boundaries derive from ALL
    // points (the where runs on batch contents); the one c=true point sits
    // in [10,20) → count 1 at emit 20 (streamer_test.go:2412-2447)
    val pts = srplRebased("TestStream_Aggregate_Changing_Type")
      .filter(col("measurement") === "m")
      .select(col("time"), expr("fieldsBool['c']").as("c"))
    val (emit, rows) = lastFsmBatch(pts, 10, 10)
    assert(emit == 20L)
    assert(rows.count(r => !r.isNullAt(1) && r.getBoolean(1)) == 1)
  }

  test("TestStream_EvalGroups golden: stateful count() runs per group") {
    // eval(lambda: count()) per group: running count, fresh per group
    // (streamer_test.go:2933-2972 — both groups reach 2 at t=1)
    val pts = srplRebased("TestStream_EvalGroups")
      .filter(col("measurement") === "types")
      .select(expr("tags['group']").as("group"), col("time"))
    val counted = pts.withColumn("count", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("group").orderBy("time")))
    val last = counted.filter(unix_timestamp(col("time")) === 1)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(last == Map("A" -> 2, "B" -> 2))
  }

  test("TestStream_Eval_Tags golden: evaluated column promotes to a dimension") {
    // eval(string(value)).as('value_tag').tags('value_tag').keep('value','another')
    // (streamer_test.go:2893-2931)
    val pts = srplRebased("TestStream_Eval_Tags")
      .filter(col("measurement") === "types")
      .select(col("time"), expr("fieldsFloat['value']").as("value"),
        expr("fieldsFloat['another']").as("another"))
    val p = Pipe(pts, "time", Nil)
      .evalKeep(Seq("value", "another", "value_tag"),
        "value_tag" -> col("value").cast("int").cast("string"))
      .evalTags("value_tag")
    assert(p.dims == Seq("value_tag"))
    val rows = p.df.collect()
      .map(r => r.getString(r.fieldIndex("value_tag")) ->
        ((r.getDouble(r.fieldIndex("value")), r.getDouble(r.fieldIndex("another"))))).toMap
    assert(rows == Map("0" -> ((0.0, 2.0)), "1" -> ((1.0, 2.0))))
  }

  test("TestStream_InfluxQL_String golden: typed aggregates over a string field") {
    // count/distinct/first/last over string values, window [0,10)
    // (streamer_test.go:6934-7140)
    val pts = srplRebased("TestStream_InfluxQL_String")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsStr['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    val batch = w.filter(col("wemit_us") === lastEmit)
    val p = Pipe(batch, "time", Nil)
    assert(graft.operators.InfluxQL.count(p, Nil, "value").head.getLong(0) == 10L)
    assert(graft.operators.InfluxQL.distinct(p, Nil, "value")
      .collect().map(_.getString(0)).toSet == Set("98", "91", "95", "93", "92", "96"))
    assert(graft.operators.InfluxQL.first(p, Nil, "value").head.getString(0) == "98")
    assert(graft.operators.InfluxQL.last(p, Nil, "value").head.getString(0) == "95")
  }

  test("TestStream_InfluxQL_Float golden: all aggregates/selectors over one window") {
    // one fixture pins 15 operators' exact values (streamer_test.go:6012-6933)
    import graft.operators.InfluxQL
    val pts = srplRebased("TestStream_InfluxQL_Float")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    val p = Pipe(w.filter(col("wemit_us") === lastEmit), "time", Nil)
    assert(InfluxQL.count(p, Nil, "value").head.getLong(0) == 10L)
    assert(InfluxQL.sum(p, Nil, "value").head.getDouble(0) == 940.0)
    assert(InfluxQL.mean(p, Nil, "value").head.getDouble(0) == 94.0)
    assert(InfluxQL.median(p, Nil, "value").head.getDouble(0) == 94.0)
    assert(InfluxQL.mode(p, Nil, "value").head.getDouble(0) == 95.0)
    assert(InfluxQL.spread(p, Nil, "value").head.getDouble(0) == 7.0)
    assert(math.abs(InfluxQL.stddev(p, Nil, "value").head.getDouble(0)
      - 2.160246899469287) < 1e-12)
    assert(InfluxQL.minSel(p, Nil, "value").head.getDouble(0) == 91.0)
    assert(InfluxQL.maxSel(p, Nil, "value").head.getDouble(0) == 98.0)
    assert(InfluxQL.first(p, Nil, "value").head.getDouble(0) == 98.0)
    assert(InfluxQL.last(p, Nil, "value").head.getDouble(0) == 95.0)
    assert(InfluxQL.percentile(p, Nil, "value", 50.0).head.getDouble(0) == 93.0)
    assert(InfluxQL.distinct(p, Nil, "value").collect().map(_.getDouble(0)).toSet ==
      Set(98.0, 91.0, 95.0, 93.0, 92.0, 96.0))
    assert(InfluxQL.top(p, Nil, "value", 2).collect()
      .map(_.getAs[Double]("top")).toSeq == Seq(98.0, 96.0))
    assert(InfluxQL.bottom(p, Nil, "value", 3).collect()
      .map(_.getAs[Double]("bottom")).toSeq == Seq(91.0, 92.0, 92.0))
  }

  test("TestStream_Sideload golden: ordered overlay with defaults") {
    // sideload order t0→t1→t2, first match per field wins, defaults fill
    // (streamer_test.go:12268-12339; yml contents transcribed from
    // integrations/testdata/sideload/)
    val cfg = Seq(
      ("t0/b", Map("f1" -> "2")), ("t0/c", Map("f1" -> "12")),
      ("t1/n", Map("f2" -> "3.5")), ("t1/o", Map("f1" -> "42", "f2" -> "13.5")),
      ("t2/y", Map("t3" -> "why", "other" -> "56")))
      .toDF("key", "values")
    val pts = srplRebased("TestStream_Sideload")
      .filter(col("measurement") === "m")
      .select(col("time"), expr("tags['t0']").as("t0"), expr("tags['t1']").as("t1"),
        expr("tags['t2']").as("t2"), expr("fieldsFloat['value']").as("value"))
    val out = graft.operators.Sideload.sideload(pts,
      levels = Seq(
        concat(lit("t0/"), col("t0")), concat(lit("t1/"), col("t1")),
        concat(lit("t2/"), col("t2"))),
      config = cfg,
      fields = Map("f1" -> lit("0"), "f2" -> lit("0.0"), "t3" -> lit("one")))
    val rows = out.collect().map(r => (
      r.getString(r.fieldIndex("t0")),
      (r.getString(r.fieldIndex("f1")), r.getString(r.fieldIndex("f2")),
        r.getString(r.fieldIndex("t3"))))).toMap
    assert(rows == Map(
      "a" -> (("0", "0.0", "one")),
      "b" -> (("2", "3.5", "why")),
      "c" -> (("12", "13.5", "why"))))
  }

  test("TestStream_StateTracking golden: stateDuration/stateCount runs per host") {
    // stateDuration(value>95).unit(1ms) and stateCount over the same
    // fixture; the field-less serverB point drops without breaking the run
    // (streamer_test.go:13554-13692)
    val pts = srplRebased("TestStream_StateTracking")
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
      .filter(col("value").isNotNull)
    val p = Pipe(pts, "time", Seq("host"))
    def rowsOf(df: org.apache.spark.sql.DataFrame, as: String) =
      df.filter(unix_timestamp(col("time")) < 4).orderBy("host", "time")
        .select(col("host"), unix_timestamp(col("time")), col(as).cast("double"))
        .as[(String, Long, Double)].collect().toSeq
    val dur = rowsOf(p.stateDuration(col("value") > 95, "my_duration", 0.001).df,
      "my_duration")
    assert(dur == Seq(
      ("serverA", 0L, 0.0), ("serverA", 1L, 1000.0), ("serverA", 2L, -1.0),
      ("serverA", 3L, 0.0),
      ("serverB", 0L, -1.0), ("serverB", 1L, 0.0), ("serverB", 3L, 2000.0)))
    val cnt = rowsOf(p.stateCount(col("value") > 95, "my_count").df, "my_count")
    assert(cnt == Seq(
      ("serverA", 0L, 1.0), ("serverA", 1L, 2.0), ("serverA", 2L, -1.0),
      ("serverA", 3L, 1.0),
      ("serverB", 0L, -1.0), ("serverB", 1L, 1.0), ("serverB", 3L, 2.0)))
  }

  // ---- batch (.brpl) fixtures (batcher_test.go): one JSON doc = one batch.

  private def brplRebased(name: String) = {
    val df = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata(s"$name.brpl"))
    val mn = df.agg(min(unix_micros(col("time")))).head.getLong(0)
    df.withColumn("time", timestamp_micros(unix_micros(col("time")) - mn))
  }

  test("TestBatch_Derivative golden: derivative within one replayed batch") {
    // batcher_test.go:199-243: derivative over the batch's sum-points,
    // missing-field point dropped; expected 0.5,0.5,0.5,1.0 at t=2..8
    val b = brplRebased("TestBatch_Derivative.0")
      .select(col("batch_idx"), col("time"),
        expr("try_cast(fields['value'] AS double)").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx")).derivative("value").df
      .orderBy("time")
      .select(unix_timestamp(col("time")), col("derivative"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 0.5, 4L -> 0.5, 6L -> 0.5, 8L -> 1.0))
  }

  test("TestBatch_CumulativeSum golden: cumulative sum restarts per batch") {
    // two replayed batches; the cached Result is the second batch's
    // in-batch cumulative sum (batcher_test.go:566-613)
    val b = brplRebased("TestBatch_CumulativeSum.0")
      .select(col("batch_idx"), col("time"),
        expr("try_cast(fields['value'] AS double)").as("value"))
    val lastIdx = b.agg(max("batch_idx")).head.getInt(0)
    val out = Pipe(b.filter(col("batch_idx") === lastIdx), "time", Seq("batch_idx"))
      .cumulativeSum("value").df
      .orderBy("time")
      .select(unix_timestamp(col("time")), col("cumulativeSum"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(10L -> 0.0, 12L -> 10.0, 14L -> 30.0, 16L -> 60.0, 18L -> 100.0))
  }

  test("TestBatch_SimpleMR golden: per-batch count then windowed sum") {
    // batcher_test.go:615-667: count('mean') per batch (emitted at the
    // batch's tmax), then window(20s,20s)|sum → 10.0 at t=28 per cpu
    val b = brplRebased("TestBatch_SimpleMR.0")
      .select(col("batch_idx"), expr("tags['cpu']").as("cpu"), col("time"),
        expr("try_cast(fields['mean'] AS double)").as("mean"))
    val counts = b.groupBy("cpu", "batch_idx")
      .agg(count("mean").as("count"), max("time").as("time"))
    val w = WindowFSM.windowByTime(
      counts.select(col("cpu"), col("time"), col("count")), "time", Seq("cpu"), 20, 20)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 28000000L)
    val sums = w.filter(col("wemit_us") === lastEmit)
      .groupBy("cpu").agg(sum("count").as("sum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("cpu-total" -> 10L, "cpu0" -> 10L, "cpu1" -> 10L))
  }

  // ---- eval node semantics (streamer_test.go:2687-3070): typed lambdas,
  // missing-field skip, keep/hidden interplay, tags conversion.

  test("TestStream_Eval_AllTypes golden: typed lambdas per field type") {
    // eval(str+'suffix', !bool, int+14, float*2.0) — int stays int64,
    // originals are dropped (no keep)
    val p = srplRebased("TestStream_EvalAllTypes")
      .filter(col("measurement") === "types")
      .select(
        concat(expr("fieldsStr['str']"), lit("suffix")).as("str"),
        (!expr("fieldsBool['bool']")).as("bool"),
        (expr("fieldsInt['int']") + 14L).as("int"),
        (expr("fieldsFloat['float']") * 2.0).as("float"))
    val r = p.head
    assert(r.getString(0) == "bobsuffix" && r.getBoolean(1) == true)
    assert(r.getLong(2) == 19L && r.getDouble(3) == 84.0)
  }

  test("TestStream_EvalDivisionByZero golden: failing row is dropped, no output") {
    // eval(lambda: 10/"n") with n=0i errors per-point and the point is
    // skipped (eval.go error path) — try_divide + null-drop is the
    // Spark-side equivalent contract
    val out = srplRebased("TestStream_EvalDivisionByZero")
      .filter(col("measurement") === "data")
      .select(try_divide(lit(10L), expr("fieldsInt['n']")).as("n"))
      .filter(col("n").isNotNull)
    assert(out.count() == 0)
  }

  test("TestStream_Eval_KeepAll golden: keep() retains originals plus results") {
    val base = srplRebased("TestStream_Eval_Keep")
      .filter(col("measurement") === "types")
      .select(col("time"),
        expr("fieldsFloat['value0']").as("value0"),
        expr("fieldsFloat['value1']").as("value1"))
    val p = Pipe(base, timeCol = "time", dims = Nil)
      .eval("pos" -> (col("value0") + col("value1")),
        "neg" -> (col("value0") - col("value1")))
    val r = p.df.select("neg", "pos", "value0", "value1").head
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
      ((-1.0, 1.0, 0.0, 1.0)))
  }

  test("TestStream_Eval_KeepSomeWithHidden golden: hidden intermediates feed later lambdas") {
    // eval(pos=value0+value1, zero=pos-value1).keep(value0, zero):
    // 'pos' is visible to the second lambda but absent from the output
    val base = srplRebased("TestStream_Eval_Keep")
      .filter(col("measurement") === "types")
      .select(col("time"),
        expr("fieldsFloat['value0']").as("value0"),
        expr("fieldsFloat['value1']").as("value1"))
    val p = Pipe(base, timeCol = "time", dims = Nil)
      .evalKeep(Seq("value0", "zero"),
        "pos" -> (col("value0") + col("value1")),
        "zero" -> (col("pos") - col("value1")))
    assert(p.df.columns.toSeq == Seq("time", "value0", "zero"))
    val r = p.df.head
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
  }

  test("TestStream_Eval_Tags_Keep golden: evaluated tag + kept fields regroup") {
    // eval(string(value)).as('value').tags('value').keep() |groupBy('value'):
    // the evaluated string becomes a tag (replacing the field of the same
    // name), 'another' survives via keep()
    val base = srplRebased("TestStream_Eval_Tags")
      .filter(col("measurement") === "types")
      .select(col("time"),
        expr("fieldsFloat['value']").as("value"),
        expr("fieldsFloat['another']").as("another"))
    val p = Pipe(base, timeCol = "time", dims = Nil)
      .eval("value" -> expr("CAST(CAST(value AS BIGINT) AS STRING)"))
      .groupBy("value")
    val got = p.df.groupBy("value").agg(max("another").as("another"))
      .orderBy("value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq("0" -> 2.0, "1" -> 2.0))
  }

  test("TestStream_Eval_Tags_KeepSome golden: tag under a new name, originals kept") {
    val base = srplRebased("TestStream_Eval_Tags")
      .filter(col("measurement") === "types")
      .select(col("time"),
        expr("fieldsFloat['value']").as("value"),
        expr("fieldsFloat['another']").as("another"))
    val p = Pipe(base, timeCol = "time", dims = Nil)
      .eval("value_tag" -> expr("CAST(CAST(value AS BIGINT) AS STRING)"))
      .groupBy("value_tag")
    val got = p.df.groupBy("value_tag")
      .agg(max("another").as("another"), max("value").as("value"))
      .orderBy("value_tag").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq(("0", 2.0, 0.0), ("1", 2.0, 1.0)))
  }

  test("TestStream_Eval_Missing golden: points without the field are skipped") {
    // eval referencing a missing field drops those points (eval.go error
    // path); only the t=0 or_not_to_be point survives, tags intact
    val base = srplRebased("TestStream_Eval_Missing")
      .filter(col("measurement") === "missing")
      .select(col("time"), expr("tags['t']").as("t"),
        expr("fieldsFloat['or_not_to_be']").as("v"))
    val out = Pipe(base, timeCol = "time", dims = Seq("t"))
      .eval("that_is_the_question" -> col("v"))
      .where(col("that_is_the_question").isNotNull)
      .df.select("t", "that_is_the_question").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out == Seq(("t1", 42.0)))
  }

  test("TestStream_Eval_Missing_isPresent golden: isPresent guards the lambda") {
    val base = srplRebased("TestStream_Eval_Missing")
      .filter(col("measurement") === "missing")
      .select(col("time"), expr("tags['t']").as("t"),
        expr("fieldsFloat['or_not_to_be']").as("v"))
    val out = Pipe(base, timeCol = "time", dims = Seq("t"))
      .where(col("v").isNotNull) // isPresent("or_not_to_be")
      .eval("that_is_the_question" -> col("v").isNull) // !isPresent(...)
      .df.select("t", "that_is_the_question").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(out == Seq(("t1", false)))
  }

  test("TestStream_Eval_Time golden: hour() of the point time per group") {
    val base = srplRebased("TestStream_Eval_Time")
      .filter(col("measurement") === "types")
      .select(col("time"), expr("tags['group']").as("group"))
    val evald = Pipe(base, timeCol = "time", dims = Seq("group"))
      .eval("hour" -> hour(col("time")).cast("double"))
    // httpOut caches the most recent point per group (the 01:00:00 UTC one;
    // session TZ is UTC, matching the reference harness's Local()=UTC)
    val out = evald.df.groupBy("group")
      .agg(max_by(col("hour"), col("time")).as("hour"))
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out == Seq(("A", 1.0), ("B", 1.0)))
  }

  test("TestStream_HoltWinters golden: 3 forecasts past the last window") {
    // stream|from('packets').groupBy(host)|window(10s,10s)
    //       |holtWinters('value', 3, 0, 1s) (streamer_test.go:483-521).
    // Semantics pinned exactly (times, count, fit-vs-forecast split); values
    // within 0.1 of the reference's — see the tolerance note in
    // HoltWintersSpec (same SSE surface, different Nelder-Mead endpoint).
    import graft.operators.HoltWinters
    val pts = fieldPts("TestStream_HoltWinters", "packets")
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10,
      align = false, fillPeriod = false)
    val last = w.agg(max("wemit_us")).head.getLong(0)
    val hw = w.filter(col("wemit_us") === last)
      .select(unix_timestamp(col("time")).as("t"), col("value"))
      .agg(HoltWinters.holtWinters(col("t"), col("value"), 3, 0, 1L).as("hw"))
      .select(explode(col("hw")).as("p")).select(col("p.t"), col("p.v"))
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val expected = Seq(10L -> 1009.324690106368, 11L -> 1009.7524349889708,
      12L -> 1010.105056042826)
    assert(hw.map(_._1) == expected.map(_._1))
    hw.zip(expected).foreach { case ((_, got), (_, want)) =>
      assert(math.abs(got - want) < 0.1, s"$got vs $want")
    }
  }

  test("TestStream_HoltWintersWithFit golden: 10 fit + 3 forecast points") {
    import graft.operators.HoltWinters
    val pts = fieldPts("TestStream_HoltWinters", "packets")
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10,
      align = false, fillPeriod = false)
    val last = w.agg(max("wemit_us")).head.getLong(0)
    val hw = w.filter(col("wemit_us") === last)
      .select(unix_timestamp(col("time")).as("t"), col("value"))
      .agg(HoltWinters.holtWinters(col("t"), col("value"), 3, 0, 1L,
        withFit = true).as("hw"))
      .select(explode(col("hw")).as("p")).select(col("p.t"), col("p.v"))
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(hw.map(_._1) == (0L to 12L))
    assert(hw.head._2 == 1000.0)
    val expected = Seq(1000.0, 1000.7349380776699, 1001.8935462884633,
      1003.1750039651934, 1004.4245269000132, 1005.5685498251902,
      1006.5782508658309, 1007.4488388165385, 1008.1877681696025,
      1008.8080773333872, 1009.324690106368, 1009.7524349889708,
      1010.105056042826)
    hw.map(_._2).zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 0.2, s"$got vs $want")
    }
  }

  private def unix_ts(r: Row): Long = r.getTimestamp(0).toInstant.getEpochSecond

  test("replayed fixture through the alert FSM matches the golden events") {
    import AlertStream._
    val pts = points.select(
      col("host").as("group"),
      unix_micros(col("time")).as("timeUs"),
      (col("usage") > 50).as("pass1"),
      (col("usage") > 70).as("pass2"),
      (col("usage") > 85).as("pass3"),
      lit(true).as("reset1"), lit(true).as("reset2"), lit(true).as("reset3"))
      .as[AlertPoint]
    val events = runBatch(pts, AlertConfig(stateChangesOnly = true))
      .collect().sortBy(e => (e.group, e.timeUs))
      .map(e => (e.group, e.timeUs / 1000000, e.levelName)).toSeq
    // initial OK points never emit under stateChangesOnly (history starts
    // at OK, unchanged); serverB stays OK throughout → silent
    assert(events == Seq(
      ("serverA", 5L, "INFO"),
      ("serverA", 10L, "WARNING"),
      ("serverA", 15L, "CRITICAL")))
  }
}
