package graft

import graft.api.Pipe
import graft.operators.{InfluxQL, WindowFSM}
import org.apache.spark.sql.functions._

/** Golden-replay batch 2 — more reference stream fixtures reproduced
  * end-to-end (integrations/streamer_test.go; fixture replay → pipeline →
  * LAST httpOut batch compare). Same harness shape as GoldenReplaySpec. */
class GoldenReplaySpec2 extends SparkSpec {
  import spark.implicits._

  /** Whole-fixture read with the replay harness's re-basing (first point
    * lands on t=0; fixtures carry plain-second timestamps). */
  private def srplRebased(name: String) = {
    val df = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata(s"$name.srpl"))
    val mn = df.agg(min("ts_ns")).head.getLong(0)
    df.withColumn("time", timestamp_seconds(col("ts_ns") - mn))
  }

  // ---- InfluxQL node over integer and boolean fields
  // (streamer_test.go:6475-7100, 7103-7350)

  test("TestStream_InfluxQL_Integer golden: aggregates/selectors over int fields") {
    val pts = srplRebased("TestStream_InfluxQL_Integer")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsInt['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    val p = Pipe(w.filter(col("wemit_us") === lastEmit), "time", Nil)
    assert(InfluxQL.count(p, Nil, "value").head.getLong(0) == 10L)
    assert(InfluxQL.sum(p, Nil, "value").head.getLong(0) == 940L)
    assert(InfluxQL.mean(p, Nil, "value").head.getDouble(0) == 94.0)
    assert(InfluxQL.median(p, Nil, "value").head.getDouble(0) == 94.0)
    assert(InfluxQL.spread(p, Nil, "value").head.getLong(0) == 7L)
    assert(math.abs(InfluxQL.stddev(p, Nil, "value").head.getDouble(0)
      - 2.160246899469287) < 1e-12)
    assert(InfluxQL.minSel(p, Nil, "value").head.getLong(0) == 91L)
    assert(InfluxQL.maxSel(p, Nil, "value").head.getLong(0) == 98L)
    assert(InfluxQL.first(p, Nil, "value").head.getLong(0) == 98L)
    assert(InfluxQL.last(p, Nil, "value").head.getLong(0) == 95L)
    assert(InfluxQL.distinct(p, Nil, "value").collect().map(_.getLong(0)).toSet ==
      Set(98L, 91L, 95L, 93L, 92L, 96L))
    assert(InfluxQL.top(p, Nil, "value", 2).collect()
      .map(_.getAs[Long]("top")).toSeq == Seq(98L, 96L))
    assert(InfluxQL.bottom(p, Nil, "value", 3).collect()
      .map(_.getAs[Long]("bottom")).toSeq == Seq(91L, 92L, 92L))
  }

  test("TestStream_InfluxQL_Boolean golden: count/distinct/first over bool fields") {
    val pts = srplRebased("TestStream_InfluxQL_Boolean")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsBool['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    val p = Pipe(w.filter(col("wemit_us") === lastEmit), "time", Nil)
    assert(InfluxQL.count(p, Nil, "value").head.getLong(0) == 10L)
    assert(InfluxQL.distinct(p, Nil, "value").collect().map(_.getBoolean(0)).toSet ==
      Set(true, false))
    assert(InfluxQL.first(p, Nil, "value").head.getBoolean(0) == false)
  }

  // ---- joins (streamer_test.go:4934-5210)

  test("TestStream_JoinTolerance golden: arrival-ordered pairing within buckets") {
    // join(views).tolerance(2s) groupBy service; the cartA window [0,10)
    // has TWO pairs at rounded t=6 — sequential joinsets, not a cross
    // product (streamer_test.go:4934-5080)
    val base = srplRebased("TestStream_JoinTolerance")
    def side(meas: String) = Pipe(
      base.filter(col("measurement") === meas)
        .select(col("time"), expr("tags['service']").as("service"),
          expr("fieldsFloat['value']").as("value")),
      "time", Seq("service"))
    val joined = side("errors").joinToleranceOrdered(
      side("views"), 2, ("errors", "views"), Seq("service"))
    val cartA = joined.filter(col("service") === "cartA" && col("jt_s") < 10)
      .orderBy("jt_s", "errors_value")
      .select(col("jt_s"), col("errors_value"), col("views_value"))
      .as[(Long, Double, Double)].collect().toSeq
    assert(cartA == Seq(
      (0L, 7.0, 700.0), (2L, 9.0, 900.0), (4L, 3.0, 300.0),
      (6L, 11.0, 1100.0), (6L, 12.0, 1200.0), (8L, 6.0, 600.0)))
  }

  test("TestStream_Join_Fill_Null golden: null fill + defaults keep unmatched points") {
    // join.fill('null') |default(0) |eval(sum) |window(10s)|count:
    // cartA 7, login 7, front 8 (streamer_test.go:5082-5144)
    val base = srplRebased("TestStream_Join_Fill")
    def side(meas: String) = Pipe(
      base.filter(col("measurement") === meas)
        .select(col("time"), expr("tags['service']").as("service"),
          expr("fieldsFloat['value']").as("value")),
      "time", Seq("service"))
    val joined = side("errors").joinMulti(
      "errors", Seq((side("views"), "views")),
      toleranceSeconds = 0, on = Seq("service"), fill = Pipe.FillNull)
    val counts = joined
      .withColumn("ev", coalesce(col("errors_value"), lit(0.0)))
      .withColumn("vv", coalesce(col("views_value"), lit(0.0)))
      .withColumn("error_percent", col("ev") + col("vv"))
      .filter(col("jt_us") < 10000000L)
      .groupBy("service").agg(count("error_percent").as("count"))
      .orderBy("service")
      .as[(String, Long)].collect().toSeq
    assert(counts == Seq(("cartA", 7L), ("front", 8L), ("login", 7L)))
  }

  test("TestStream_GroupByWhere golden: finer dims join the filtered total on host") {
    // byCpu (host,cpu) joins total (host, cpu==cpu-total) on('host'),
    // ratio means over [0,10) (streamer_test.go:4258-4330)
    val base = srplRebased("TestStream_GroupByWhere")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("tags['cpu']").as("cpu"), expr("fieldsFloat['value']").as("value"))
    val byCpu = Pipe(base, "time", Seq("host", "cpu"))
    val total = Pipe(base.filter(col("cpu") === "cpu-total").drop("cpu"),
      "time", Seq("host"))
    val joined = byCpu.joinMulti("cpu", Seq((total, "total")), on = Seq("host"))
    val means = joined
      .withColumn("cpu_percent", col("cpu_value") / col("total_value"))
      .filter(col("jt_us") < 10000000L)
      .groupBy("host", "cpu").agg(avg("cpu_percent").as("mean"))
      .orderBy("cpu")
      .as[(String, String, Double)].collect().toSeq
    assert(means.map(_._2) == Seq("cpu-total", "cpu0", "cpu1"))
    assert(means(0)._3 == 1.0)
    assert(math.abs(means(1)._3 - 0.7823116704593873) < 1e-12)
    assert(math.abs(means(2)._3 - 0.7676074281820646) < 1e-12)
  }

  // ---- delete + groupBy(*) (streamer_test.go:3133-3177)

  test("TestStream_Delete golden: dropped tag regroups under the star dimension") {
    val base = srplRebased("TestStream_Delete")
      .filter(col("measurement") === "cpu")
      .select(col("time"), col("tags"),
        expr("fieldsFloat['value']").as("value"),
        expr("fieldsFloat['anothervalue']").as("anothervalue"))
    val p = Pipe(base, "time", Nil)
      .delete("anothervalue")
      // delete().tag('type'): remove from the tag map, then groupBy(*)
      .eval("tags" -> map_filter(col("tags"), (k, _) => k =!= "type"))
      .groupByStar()
    assert(!p.df.columns.contains("anothervalue"))
    val rows = p.df.select(expr("tags['host']"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(rows == Map("serverA" -> 9.0, "serverB" -> 6.0, "serverC" -> 3.0))
  }

  // ---- combine filtered (streamer_test.go:4554-4612)

  test("TestStream_Combine_Filtered golden: first lambda filters the left member") {
    val arrival = typedlit(Map("auth" -> 1L, "log" -> 2L, "cart" -> 3L))
    val base = srplRebased("TestStream_Combine")
      .filter(col("measurement") === "request_latency")
      .select(col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("fieldsFloat['value']").as("value"),
        arrival(expr("tags['service']")).as("aid"))
    val pairs = Pipe(base, "time", Seq("dc"), idCol = Some("aid"))
      .combineK(Seq(col("service") === "auth", lit(true)), 1, Seq("auth", "other"))
      .filter(col("bucket_s") === 0)
      .withColumn("ratio", col("auth_value") / col("other_value"))
    val got = pairs.select("dc", "other_service", "ratio")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("A", "log", 700.0 / 600.0), ("A", "cart", 700.0 / 800.0),
      ("B", "log", 750.0 / 650.0), ("B", "cart", 750.0 / 850.0)))
  }

  // ---- derivative .as() and .unit() (streamer_test.go:293-423)

  test("TestStream_DerivativeAs golden: named column rides beside the original") {
    val pts = srplRebased("TestStream_Derivative")
      .filter(col("measurement") === "packets")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
      // the t=2 point carries only value2 — derivative.go skips points
      // missing the tracked field
      .filter(col("value").isNotNull)
    val der = Pipe(pts, "time", Nil).derivative("value", as = "derivative")
    val first = der.df.filter(unix_micros(col("time")) < 6000000L)
      .orderBy("time")
      .select((unix_micros(col("time")) / 1000000L).cast("long"), col("derivative"), col("value"))
      .as[(Long, Double, Double)].collect().toSeq
    assert(first == Seq((1L, 1.0, 1001.0), (3L, 1.0, 1003.0),
      (4L, 1.0, 1004.0), (5L, 2.0, 1006.0)))
  }

  test("TestStream_DerivativeUnit golden: unit scales the per-second rate") {
    val pts = srplRebased("TestStream_Derivative")
      .filter(col("measurement") === "packets")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    // no .as(): the reference replaces the field in place
    val der = Pipe(pts, "time", Nil).derivative("value", unitSeconds = 10, as = "value")
    val w = WindowFSM.windowByTime(der.df, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    val mean = w.filter(col("wemit_us") === lastEmit)
      .agg(avg("value")).head.getDouble(0)
    assert(mean == 10.0)
  }

  // ---- shift(-period) (streamer_test.go:2553-2604; ShiftBatch[Negative]
  // reorder the same operators and share this path)

  test("TestStream_ShiftNegative golden: current counts shifted back join the past") {
    val pts = srplRebased("TestStream_Shift")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    def counts(p: Pipe) = {
      val w = WindowFSM.windowByTime(p.df, "time", Nil, 5, 5, align = true)
      Pipe(w.groupBy("wemit_us").agg(count("value").cast("double").as("count"))
        .withColumn("time", timestamp_micros(col("wemit_us"))).drop("wemit_us"),
        "time", Nil)
    }
    val past = counts(Pipe(pts, "time", Nil))
    val current = counts(Pipe(pts, "time", Nil)).shift(-5)
    val joined = past.joinMulti("past", Seq((current, "current")))
      .withColumn("diff", col("current_count") - col("past_count"))
      .select((col("jt_us") / 1000000L).cast("long"), col("current_count"), col("diff"), col("past_count"))
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(joined == Seq((5L, 5.0, 1.0, 4.0)))
  }

  // ---- where chains (streamer_test.go:4076-4130)

  test("TestStream_SimpleWhere golden: stacked wheres pre- and post-aggregate") {
    val pts = srplRebased("TestStream_SimpleMR")
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    val p = Pipe(pts, "time", Nil)
      .where(col("host") === "serverA")
      .where(col("host") =!= "serverB")
    val w = WindowFSM.windowByTime(p.df, "time", Nil, 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 10000000L)
    val counted = w.filter(col("wemit_us") === lastEmit)
      .agg(count("value").as("count"))
      .filter(col("count") > 0 && col("count") < 12)
    assert(counted.head.getLong(0) == 10L)
  }

  // ---- sideload from real config files (streamer_test.go:12340-12500)

  test("TestStream_Sideload_JSON golden: json sources load and overlay identically") {
    val cfg = graft.operators.Sideload.loadDir(spark,
      RefFixtures.testdata("sideload"))
    val pts = srplRebased("TestStream_Sideload")
      .filter(col("measurement") === "m")
      .select(col("time"), expr("tags['t0']").as("t0"), expr("tags['t1']").as("t1"),
        expr("tags['t2']").as("t2"), expr("fieldsFloat['value']").as("value"))
    val out = graft.operators.Sideload.sideload(pts,
      levels = Seq(
        concat(lit("t0/"), col("t0"), lit(".json")),
        concat(lit("t1/"), col("t1"), lit(".json")),
        concat(lit("t2/"), col("t2"), lit(".yml"))),
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

  // ---- mid-stream regrouping (streamer_test.go:3909-4075)

  test("TestStream_BatchGroupBy golden: groupBy after the window re-dimensions the batch") {
    // the reference er pins the FIRST window [0,5) (its grouped httpOut
    // cache holds that batch for every group: counts 5/5/1 at t=5)
    val pts = srplRebased("TestStream_BatchGroupBy")
      .filter(col("measurement") === "cpu")
      .select(col("time"), col("tags"), expr("fieldsFloat['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 5, 5)
    val counts = w.filter(col("wemit_us") === 5000000L)
      .groupBy(expr("tags['host']").as("host")).agg(count("value").as("count"))
      .orderBy("host").as[(String, Long)].collect().toSeq
    assert(counts == Seq(("serverA", 5L), ("serverB", 5L), ("serverC", 1L)))
  }

  test("TestStream_BatchGroupByAllExclude golden: star minus a tag regroups coarser") {
    // same first-window er as BatchGroupBy: 5+5+1 points collapse to
    // the single remaining (type=idle) group
    val pts = srplRebased("TestStream_BatchGroupBy")
      .filter(col("measurement") === "cpu")
      .select(col("time"), col("tags"), expr("fieldsFloat['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 5, 5)
    val p = Pipe(w.filter(col("wemit_us") === 5000000L), "time", Nil)
      .eval("tags" -> map_filter(col("tags"), (k, _) => k =!= "host"))
      .groupByStar()
    val counts = p.df.groupBy(expr("tags['type']").as("type"))
      .agg(count("value").as("count"))
      .as[(String, Long)].collect().toSeq
    assert(counts == Seq(("idle", 11L)))
  }

  test("TestStream_GroupByAllExclude golden: excluded star dim before the window") {
    val pts = srplRebased("TestStream_GroupByExclude")
      .filter(col("measurement") === "mock")
      .select(col("time"), col("tags"), expr("fieldsFloat['value']").as("value"))
    val p = Pipe(pts, "time", Nil)
      .eval("tags" -> map_filter(col("tags"), (k, _) => k =!= "s"))
      .groupByStar()
    val w = WindowFSM.windowByTime(p.df, "time", p.dims, 2, 2)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 2000000L)
    val counts = w.filter(col("wemit_us") === lastEmit)
      .groupBy(expr("tags['t']").as("t")).agg(count("value").as("count"))
      .orderBy("t").as[(String, Long)].collect().toSeq
    assert(counts == Seq(("A", 4L), ("B", 4L)))
  }

  // ---- alert node (streamer_test.go:7424-7600, 8074-8560, 11303-11330)

  test("TestStream_Alert golden: windowed count alerts CRITICAL with rendered id/msg") {
    import graft.functions.AlertTemplates
    import graft.streaming.AlertStream
    import graft.streaming.AlertStream._
    val pts = srplRebased("TestStream_Alert")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Seq("host"), 10, 10)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    val counted = w.filter(col("wemit_us") === lastEmit)
      .groupBy("host").agg(count("value").cast("double").as("count"))
      .withColumn("timeUs", lit(lastEmit))
    // info>6 / warn>7 / crit>8 on count=10 → CRITICAL
    val events = AlertStream.runBatch(
      counted.select(col("host").as("group"), col("timeUs"),
        (col("count") > 6).as("pass1"), (col("count") > 7).as("pass2"),
        (col("count") > 8).as("pass3"),
        lit(true).as("reset1"), lit(true).as("reset2"), lit(true).as("reset3"))
        .as[AlertPoint],
      AlertConfig()).collect()
    assert(events.length == 1 && events.head.levelName == "CRITICAL"
      && events.head.timeUs == 10000000L)
    // the httpOut point carries idField/idTag/levelField/messageField/levelTag
    val enriched = counted
      .withColumn("id", AlertTemplates.compile(
        "kapacitor/{{ .Name }}/{{ index .Tags \"host\" }}",
        Map("Name" -> lit("cpu")), tags = Some(map(lit("host"), col("host")))))
      .withColumn("level", lit(events.head.levelName))
      .withColumn("msg", AlertTemplates.compile("{{ .ID }} is {{ .Level }}",
        Map("ID" -> col("id"), "Level" -> col("level"))))
    val r = enriched.select("count", "id", "level", "msg").head
    assert(r.getDouble(0) == 10.0)
    assert(r.getString(1) == "kapacitor/cpu/serverA")
    assert(r.getString(2) == "CRITICAL")
    assert(r.getString(3) == "kapacitor/cpu/serverA is CRITICAL")
  }

  test("TestBatch_HttpPost_Timeout golden: a stalled endpoint cannot stall the pipeline") {
    import graft.sources.Sinks
    // a REAL local server that answers after 300ms — far beyond the
    // post timeout. The reference's law (batcher_test.go:3587-3710):
    // with .timeout(1ms) the whole task still completes promptly and
    // httpOut serves the untouched batch results.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      Thread.sleep(300)
      exchange.sendResponseHeaders(200, 0)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val b = graft.sources.Replay.readBrpl(spark,
        RefFixtures.testdata("TestBatch_HttpPost_Timeout.0.brpl"))
        .select(expr("tags['cpu']").as("cpu"), col("time"),
          expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
      val t0 = System.nanoTime()
      val transport = Sinks.httpTransport(url, timeoutMs = 50)
      // each batch posts (and times out) yet the data passes through
      val posted = transport("""{"series":[]}""")
      assert(posted.isLeft && posted.left.exists(_.contains("timeout")))
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(elapsedS < 5, s"timed-out post stalled: ${elapsedS}s")
      // httpOut still serves the expected batch values — the er vector
      // is the FINAL batch (t=20s..28s window means)
      val rows = b.filter(col("cpu") === "cpu-total").orderBy("time")
        .select("mean").as[Double].collect().toSeq
      assert(rows.takeRight(5) === Seq(91.06416290101595, 85.9694442394385,
        90.62985736134186, 86.45443196005628, 88.97243107764031))
      val cpu1 = b.filter(col("cpu") === "cpu1").orderBy("time")
        .select("mean").as[Double].collect().toSeq
      assert(cpu1.takeRight(5).take(2) === Seq(96.49999999996908, 93.46464646468584))
      assert(hits.get() >= 1) // the server really was hit (and abandoned)
    } finally server.stop(0)
  }

  test("TestStream_AlertRecovery golden: create request then alias-addressed recovery note") {
    import graft.streaming.AlertStream
    import graft.streaming.AlertStream._
    import graft.functions.AlertHandlers
    // fixture: v=2 @0s (CRITICAL), v=0 @1s (recovery to OK), v=0 @2s
    // (steady OK — no event). Script: crit lambda "v" > 1.0, groupBy host
    // (streamer_test.go TestStream_AlertOpsGenie2_Recovery)
    val pts = srplRebased("TestStream_AlertRecovery")
      .filter(col("measurement") === "cpu")
      .select(lit("serverA").as("group"), unix_micros(col("time")).as("timeUs"),
        lit(false).as("pass1"), lit(false).as("pass2"),
        (expr("fieldsFloat['v']") > 1.0).as("pass3"),
        lit(true).as("reset1"), lit(true).as("reset2"), lit(true).as("reset3"))
      .as[AlertPoint]
    val events = AlertStream.runBatch(pts, AlertConfig()).collect().sortBy(_.timeUs)
    assert(events.map(e => (e.timeUs / 1000000L, e.levelName)).toSeq ===
      Seq((0L, "CRITICAL"), (1L, "OK")))

    // the CREATE request: full opsgenie2 payload for the CRITICAL event
    // (expected fields from the reference test — alias, priority P1,
    // details incl. BOTH tags, responders)
    val critRow = Seq(("kapacitor/cpu/serverA", "CRITICAL",
      "kapacitor/cpu/serverA is CRITICAL",
      """{"series":[{"name":"cpu","tags":{"host":"serverA","type":"idle"},"columns":["time","v"],"values":[["1971-01-01T00:00:00Z",2]]}]}"""))
      .toDF("id", "level", "message", "data")
    val create = critRow.select(AlertHandlers.opsgenie2(
      Seq("test_team"), Nil, col("message"), col("id"), col("level"),
      col("data"), lit("cpu"),
      tags = Seq("host" -> lit("serverA"), "type" -> lit("idle"))))
      .as[String].head()
    assert(create.contains("\"alias\":\"a2FwYWNpdG9yL2NwdS9zZXJ2ZXJB\""))
    assert(create.contains("\"priority\":\"P1\""))
    assert(create.contains("\"host\":\"serverA\"") && create.contains("\"type\":\"idle\""))
    assert(create.contains("\"responders\":[{\"name\":\"test_team\",\"type\":\"team\"}]"))

    // the RECOVERY request: note body + alias-addressed URL with the
    // configured action, byte-exact against the reference expectation
    val okRow = Seq(("kapacitor/cpu/serverA", "kapacitor/cpu/serverA is OK"))
      .toDF("id", "message")
    val (url, body) = okRow.select(
      AlertHandlers.opsgenie2RecoveryUrl(col("id"), "notes"),
      AlertHandlers.opsgenie2Recovery(col("message")))
      .as[(String, String)].head()
    assert(url === "/a2FwYWNpdG9yL2NwdS9zZXJ2ZXJB/notes?identifierType=alias")
    assert(body === """{"note":"kapacitor/cpu/serverA is OK"}""")
  }

  test("TestStream_AlertStateChangesOnly golden: 8 events for 4 sub-threshold points") {
    import graft.streaming.AlertStream
    import graft.streaming.AlertStream._
    val pts = srplRebased("TestStream_AlertStateChangesOnly")
      .filter(col("measurement") === "cpu")
      .select(lit("g").as("group"), unix_micros(col("time")).as("timeUs"),
        lit(false).as("pass1"), lit(false).as("pass2"),
        (expr("fieldsFloat['value']") < 93).as("pass3"),
        lit(true).as("reset1"), lit(true).as("reset2"), lit(true).as("reset3"))
      .as[AlertPoint]
    val events = AlertStream.runBatch(pts,
      AlertConfig(stateChangesOnly = true)).collect()
    assert(events.length == 8)
    assert(events.count(_.levelName == "CRITICAL") == 4)
    assert(events.count(_.levelName == "OK") == 4)
  }

  test("TestStream_Alert_WithReset_1 golden: higher reset thresholds hold longer") {
    import graft.streaming.AlertStream
    import graft.streaming.AlertStream._
    // info>40/warn>60/crit>80; resets <30/<50/<70 (streamer_test.go:8074-8560)
    val v = expr("fieldsFloat['value']")
    val pts = srplRebased("TestStream_Alert_WithReset_1")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(lit("serverA").as("group"), unix_micros(col("time")).as("timeUs"),
        (v > 40).as("pass1"), (v > 60).as("pass2"), (v > 80).as("pass3"),
        (v < 30).as("reset1"), (v < 50).as("reset2"), (v < 70).as("reset3"))
      .as[AlertPoint]
    val events = AlertStream.runBatch(pts,
      AlertConfig(resetDefined = Seq(true, true, true))).collect()
      .sortBy(_.timeUs).map(e => (e.timeUs / 1000000L, e.levelName)).toSeq
    assert(events == Seq(
      (0L, "INFO"), (1L, "INFO"), (2L, "INFO"), (3L, "OK"),
      (4L, "INFO"), (5L, "WARNING"), (6L, "INFO"), (7L, "OK"),
      (8L, "INFO"), (9L, "WARNING"), (10L, "CRITICAL"), (11L, "WARNING"),
      (12L, "WARNING"), (13L, "INFO"), (14L, "OK")))
  }

  // ---- batch-edge semantics (batcher_test.go:765-870, 2676-2750)

  test("TestBatch_CountEmptyBatch/SumEmptyBatch golden: filtered-empty batches emit 0") {
    // batch |query(mean)|where(mean<10)|count/sum: the where empties every
    // batch, but the batch CONTAINER keeps flowing — count emits 0 and sum
    // emits 0.0 per batch (batcher_test.go er at t=28). Relationally: the
    // pre-filter batch frame left-joins the filtered aggregate.
    val b = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata("TestBatch_CountEmptyBatch.0.brpl"))
      .select(col("batch_idx"), expr("tags['cpu']").as("cpu"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val batches = b.groupBy("batch_idx", "cpu").agg(max("time").as("tmax"))
    val filtered = b.filter(col("mean") < 10)
    val agged = batches.join(
        filtered.groupBy("batch_idx", "cpu")
          .agg(count("mean").as("count"), sum("mean").as("sum")),
        Seq("batch_idx", "cpu"), "left")
      .withColumn("count", coalesce(col("count"), lit(0L)))
      .withColumn("sum", coalesce(col("sum"), lit(0.0)))
    assert(agged.count() == batches.count() && agged.count() > 0)
    assert(agged.filter(col("count") =!= 0L || col("sum") =!= 0.0).count() == 0)
    assert(agged.select("cpu").distinct().count() == 3)
  }

  test("TestBatch_StateCount golden: run counters restart at each batch boundary") {
    // batch stateCount resets per batch (batcher_test.go:2676-2749): the
    // second batch starts at my_count=1 although the first ended passing
    val b = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata("TestBatch_StateTracking.0.brpl"))
      .select(col("batch_idx"), expr("tags['host']").as("host"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull) // reference skips field-less points
    val p = Pipe(b, "time", Seq("host", "batch_idx"))
      .stateCount(col("value") > 95)
    val lastIdx = b.groupBy("host").agg(max("batch_idx").as("batch_idx"))
    val t0 = b.agg(min(unix_timestamp(col("time")))).head.getLong(0)
    val out = p.df.join(lastIdx, Seq("host", "batch_idx"))
      .select(col("host"), (unix_timestamp(col("time")) - t0).as("t"), col("state_count"))
      .orderBy("host", "t")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("serverA", 4L, 1L), ("serverA", 5L, 2L), ("serverA", 6L, -1L), ("serverA", 7L, 1L),
      ("serverB", 4L, -1L), ("serverB", 5L, 1L), ("serverB", 7L, 2L)))
  }

  test("TestBatch_Default golden: field defaults patch null means before the sum") {
    // default().field('mean', 90).tag('dc','sfc') |groupBy('dc')|sum
    // (batcher_test.go:922-960): batch 0 means [null,86,91,87,null] →
    // [90,86,91,87,90] → 444 at the batch time t=8
    val b = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata("TestBatch_Default.0.brpl"))
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val t0 = b.agg(min(unix_timestamp(col("time")))).head.getLong(0)
    val p = Pipe(b.withColumn("t", unix_timestamp(col("time")) - t0),
      "time", Seq("batch_idx"))
      .default("mean" -> 90.0)
      .eval("dc" -> lit("sfc"))
      .groupBy("dc", "batch_idx")
    val first = p.df.filter(col("batch_idx") === 0)
      .groupBy("dc").agg(sum("mean").as("sum"), max("t").as("t")).head
    assert(first.getString(0) == "sfc")
    assert(first.getDouble(1) == 444.0)
    assert(first.getLong(2) == 8L)
  }

  test("TestBatch_Join golden: exact-time batch join, per-batch count, windowed sum") {
    // cpu0|join(cpu1)|count|window(20s,20s)|sum (batcher_test.go:1970-2015):
    // three 5-point batches join pointwise on exact time; the count point
    // is stamped at the batch time; the 20s window sums the first two
    // counts → 10 at t=28
    def side(i: Int) = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata(s"TestBatch_Join.$i.brpl"))
      .select(col("time"), expr("CAST(fields['mean'] AS DOUBLE)").as(s"mean_$i"))
    val a = side(0); val b = side(1)
    val t0 = a.agg(min(unix_timestamp(col("time")))).head.getLong(0)
    val joined = a.join(b, Seq("time"))
      .withColumn("t", unix_timestamp(col("time")) - t0)
      .withColumn("period", floor(col("t") / 10))
    val counts = joined.groupBy("period")
      .agg(count(lit(1)).as("count"), max("t").as("t"))
      .select(timestamp_seconds(col("t")).as("time"), col("count"))
    val w = WindowFSM.windowByTime(counts, "time", Nil, 20, 20)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 28000000L)
    val summed = w.filter(col("wemit_us") === lastEmit).agg(sum("count")).head.getLong(0)
    assert(summed == 10L)
  }

  // join(cpu1).as('cpu0','cpu1').delimiter(d) |count('cpu0<d>mean')
  // |window(20s,20s)|sum — same data and expectation as TestBatch_Join;
  // what the delimiter variants pin is the RENDERED COLUMN NAME the
  // downstream count consumes (batcher_test.go:2019-2116, join.go:547-720)
  private def batchJoinDelimiterGolden(delimiter: String): Unit = {
    def side(i: Int) = Pipe(graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata(s"TestBatch_Join.$i.brpl"))
      .select(col("time"), expr("CAST(fields['mean'] AS DOUBLE)").as("mean")),
      "time", Nil)
    val joined = side(0).joinMulti(
      "cpu0", Seq((side(1), "cpu1")), delimiter = delimiter)
    val countedField = s"cpu0${delimiter}mean"
    assert(joined.columns.contains(countedField) &&
      joined.columns.contains(s"cpu1${delimiter}mean"))
    val t0 = joined.agg(min(col("jt_us"))).head.getLong(0) / 1000000L
    val counts = joined
      .withColumn("t", col("jt_us") / 1000000L - t0)
      .withColumn("period", floor(col("t") / 10))
      .filter(col(countedField).isNotNull)
      .groupBy("period").agg(count(countedField).as("count"), max("t").as("t"))
      .select(timestamp_seconds(col("t")).as("time"), col("count"))
    val w = WindowFSM.windowByTime(counts, "time", Nil, 20, 20)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 28000000L)
    assert(w.filter(col("wemit_us") === lastEmit)
      .agg(sum("count")).head.getLong(0) == 10L)
  }

  test("TestBatch_Join_Delimiter golden: '~' renders cpu0~mean for the count") {
    batchJoinDelimiterGolden("~")
  }

  test("TestBatch_Join_DelimiterEmpty golden: '' concatenates prefix and field") {
    batchJoinDelimiterGolden("")
  }

  test("TestBatch_InvalidQuery golden: task refuses multi-statement and non-SELECT queries") {
    // batcher_test.go:64-101: starting the task errors with the exact
    // message; the reference never silently truncates the query
    import graft.tick.TickScript
    // no row is read: the query text is refused at task start, before the source
    val points = Seq(("m", new java.sql.Timestamp(0L), 1.0)).toDF("measurement", "time", "value")
    val multi = intercept[IllegalArgumentException] {
      TickScript.compile(
        "batch|query('SELECT value FROM db.rp.m; DROP DATABASE _internal').every(1s)",
        points)
    }
    assert(multi.getMessage.contains(
      "query must be a single select statement, got 2 statements"))
    val ddl = intercept[IllegalArgumentException] {
      TickScript.compile(
        "batch|query('DROP DATABASE _internal').every(1s)",
        points)
    }
    assert(ddl.getMessage.contains(
      """query is not a select statement "DROP DATABASE _internal""""))
  }

  test("TestBatch_DoubleGroupBy golden: groupBy() merges groups; max carries the winner") {
    // batch groupBy(time(2s),'cpu') |groupBy() |max('mean')
    // (batcher_test.go:1071-1103): the empty groupBy() un-dimensions the
    // stream so the per-cpu batches of one period merge; the max selector
    // emits the winning point with its time and tags. er pins period 2:
    // cpu1, t=18, 95.98484848485191.
    val raw = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata("TestBatch_SimpleMR.0.brpl"))
      .filter(expr("tags['cpu']") =!= "cpu-total")
      .select(expr("tags['cpu']").as("cpu"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val t0 = raw.agg(min(unix_timestamp(col("time")))).head.getLong(0)
    val b = raw.withColumn("t", unix_timestamp(col("time")) - t0)
      .withColumn("period", floor(col("t") / 10))
    // without .usePointTimes() the selector stamps the BATCH time (TMax),
    // while tags come from the winning point
    val winner = b.filter(col("period") === 1)
      .agg(max_by(col("cpu"), col("mean")).as("cpu"),
        max(col("t")).as("t"), max(col("mean")).as("max"))
      .head
    assert(winner.getString(0) == "cpu1")
    assert(winner.getLong(1) == 18L)
    assert(winner.getDouble(2) == 95.98484848485191)
  }

  test("TestStream_Sideload_Multiple golden: chained sideloads add fields independently") {
    val cfg = graft.operators.Sideload.loadDir(spark,
      RefFixtures.testdata("sideload"))
    val pts = srplRebased("TestStream_Sideload")
      .filter(col("measurement") === "m")
      .select(col("time"), expr("tags['t0']").as("t0"), expr("tags['t1']").as("t1"),
        expr("tags['t2']").as("t2"), expr("fieldsFloat['value']").as("value"))
    val levels = Seq(
      concat(lit("t0/"), col("t0"), lit(".yml")),
      concat(lit("t1/"), col("t1"), lit(".yml")),
      concat(lit("t2/"), col("t2"), lit(".yml")))
    val once = graft.operators.Sideload.sideload(pts, levels, cfg,
      fields = Map("f1" -> lit("0"), "f2" -> lit("0.0"), "t3" -> lit("one")))
    val twice = graft.operators.Sideload.sideload(once, levels, cfg,
      fields = Map("other" -> lit("-1.0")))
    val rows = twice.collect().map(r => (
      r.getString(r.fieldIndex("t0")),
      (r.getString(r.fieldIndex("f1")), r.getString(r.fieldIndex("other"))))).toMap
    assert(rows == Map(
      "a" -> (("0", "-1.0")),
      "b" -> (("2", "56")),
      "c" -> (("12", "56"))))
  }

  // ================= round-8 batch tranche (batcher_test.go) =================
  // One .brpl JSON doc = one BeginBatch..EndBatch message; batch_idx is the
  // doc ordinal. Times are rebased so the replay's first point is t=0, as the
  // reference harness does.

  private def brplRebased(name: String) = {
    val df = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata(s"$name.brpl"))
    val mn = df.agg(min(unix_micros(col("time")))).head.getLong(0)
    df.withColumn("time", timestamp_micros(unix_micros(col("time")) - mn))
  }

  /** Rebase several .brpl files against their GLOBAL min time so the sides
    * of a join keep their relative offsets, as a shared replay clock does.
    * The shift is truncated to whole seconds: tolerance rounding is not
    * shift-invariant, and the reference's replay clock shift preserves the
    * fixtures' sub-second fractions (x.5 must still round up). */
  private def brplRebasedJoint(names: String*): Seq[org.apache.spark.sql.DataFrame] = {
    val dfs = names.map(n => graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata(s"$n.brpl")))
    val mn = dfs.map(_.agg(min(unix_micros(col("time")))).head.getLong(0)).min
    val shift = (mn / 1000000L) * 1000000L
    dfs.map(_.withColumn("time", timestamp_micros(unix_micros(col("time")) - shift)))
  }

  test("TestBatch_ChangeDetect golden: emit only on value change within the batch") {
    // batcher_test.go:103-147; the value2-only point is skipped
    val b = brplRebased("TestBatch_ChangeDetect.0")
      .select(col("batch_idx"), col("time"), expr("fields['value']").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx")).changeDetect("value").df
      .orderBy("time").select(unix_timestamp(col("time")), col("value"))
      .as[(Long, String)].collect().toSeq
    assert(out == Seq(0L -> "bad", 2L -> "good", 6L -> "bad", 8L -> "good"))
  }

  test("TestBatch_ChangeDetect_Many golden: any tracked field change emits both") {
    // batcher_test.go:149-197: changeDetect('a','b') — t=8 emits because b
    // changed even though a did not
    val b = brplRebased("TestBatch_ChangeDetect_Many.0")
      .select(col("batch_idx"), col("time"), expr("fields['a']").as("a"),
        expr("CAST(fields['b'] AS DOUBLE)").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx")).changeDetect("a", "b").df
      .orderBy("time").select(unix_timestamp(col("time")), col("a"), col("b"))
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((0L, "bad", 0.0), (2L, "good", 0.0), (6L, "bad", 1.0),
      (8L, "bad", 0.0)))
  }

  test("TestBatch_DerivativeNN golden: negative rate dropped, predecessor kept") {
    // batcher_test.go:389-430: value2-only point skipped; the big drop at
    // t=6 is suppressed by nonNegative but still feeds t=8's rate
    val b = brplRebased("TestBatch_DerivativeNN.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx"))
      .derivative("value", nonNegative = true).df
      .orderBy("time").select(unix_timestamp(col("time")), col("derivative"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 0.5, 4L -> 0.5, 8L -> 0.5))
  }

  test("TestBatch_Elapsed golden: inter-point gap in the 1ms unit") {
    // batcher_test.go:432-475: elapsed('value', 1ms) → 2s gaps = 2000
    val b = brplRebased("TestBatch_Elapsed.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx")).elapsed(unitSeconds = 0.001).df
      .orderBy("time").select(unix_timestamp(col("time")), col("elapsed"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 2000.0, 4L -> 2000.0, 6L -> 2000.0, 8L -> 2000.0))
  }

  test("TestBatch_Difference golden: consecutive deltas within the batch") {
    // batcher_test.go:477-520
    val b = brplRebased("TestBatch_Difference.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
    val out = Pipe(b, "time", Seq("batch_idx")).difference("value").df
      .orderBy("time").select(unix_timestamp(col("time")), col("difference"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 5.0, 4L -> 3.0, 6L -> 1.0, 8L -> -5.0))
  }

  test("TestBatch_MovingAverage golden: window-2 mean once full") {
    // batcher_test.go:522-564
    val b = brplRebased("TestBatch_MovingAverage.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
    val out = Pipe(b, "time", Seq("batch_idx")).movingAverage("value", 2).df
      .orderBy("time").select(unix_timestamp(col("time")), col("movingAverage"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 1002.5, 4L -> 1006.5, 6L -> 1008.5, 8L -> 1006.5))
  }

  test("TestBatch_DefaultEmptyTag golden: empty-string tag gets the default") {
    // batcher_test.go:960-992: default().field('mean',90).tag('dc','sfc');
    // dc is present-but-empty in the fixture and still defaulted; sum over
    // the second batch = 90+86+91+85+89 = 441 at the batch TMax 18
    val b = brplRebased("TestBatch_DefaultEmptyTag.0")
      .select(col("batch_idx"), col("time"), expr("tags['cpu']").as("cpu"),
        expr("tags['dc']").as("dc"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val p = Pipe(b, "time", Seq("cpu", "dc", "batch_idx"))
      .default("mean" -> 90.0).defaultTags("dc" -> "sfc")
    val out = p.df.groupBy("batch_idx", "cpu", "dc")
      .agg(sum("mean").as("sum"), max(unix_timestamp(col("time"))).as("t"))
      .filter(col("batch_idx") === 1).head
    assert(out.getAs[String]("cpu") == "cpu-total")
    assert(out.getAs[String]("dc") == "sfc")
    assert(out.getAs[Double]("sum") == 441.0)
    assert(out.getAs[Long]("t") == 18L)
  }

  test("TestBatch_Delete golden: deleted field+tag, then defaulted and regrouped") {
    // batcher_test.go:994-1032: delete mean+dc, default mean=10 dc=sfc,
    // groupBy dc, sum → 50 per batch at the batch TMax
    val b = brplRebased("TestBatch_Delete.0")
      .select(col("batch_idx"), col("time"), expr("tags['cpu']").as("cpu"),
        expr("tags['dc']").as("dc"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val p = Pipe(b, "time", Seq("cpu", "dc", "batch_idx"))
      .delete("mean", "dc")
      .default("mean" -> 10.0).defaultTags("dc" -> "sfc")
      .groupBy("dc", "batch_idx")
    val rows = p.df.groupBy("batch_idx", "dc")
      .agg(sum("mean").as("sum"), max(unix_timestamp(col("time"))).as("t"))
      .orderBy("batch_idx")
      .select("dc", "sum", "t").as[(String, Double, Long)].collect().toSeq
    assert(rows == Seq(("sfc", 50.0, 8L), ("sfc", 50.0, 18L)))
  }

  test("TestBatch_Delete_GroupBy golden: deleting a grouped tag merges groups") {
    // batcher_test.go:1033-1069: groupBy(dc) upstream, delete tag dc →
    // regroup to the empty group; default mean=10; sum → 50 at t=18 untagged
    val b = brplRebased("TestBatch_Delete.0")
      .select(col("batch_idx"), col("time"), expr("tags['dc']").as("dc"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val p = Pipe(b, "time", Seq("dc", "batch_idx"))
      .delete("mean", "dc")
      .default("mean" -> 10.0)
    assert(!p.dims.contains("dc")) // deleting a dim regroups
    val rows = p.df.groupBy("batch_idx")
      .agg(sum("mean").as("sum"), max(unix_timestamp(col("time"))).as("t"))
      .filter(col("batch_idx") === 1)
      .select("sum", "t").as[(Double, Long)].collect().toSeq
    assert(rows == Seq((50.0, 18L)))
  }

  test("TestBatch_Delete_GroupBy fixture golden: empty-fields points take the default") {
    // batcher_test.go:1033-1069 on its OWN fixture (not the Delete one):
    // some points arrive with an EMPTY field map — after delete('mean')
    // they are indistinguishable from the rest, default fills all five,
    // and each batch sums to 50 at its last point time
    val b = brplRebased("TestBatch_Delete_GroupBy.0")
      .select(col("batch_idx"), col("time"), expr("tags['dc']").as("dc"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val p = Pipe(b, "time", Seq("dc", "batch_idx"))
      .delete("mean", "dc")
      .default("mean" -> 10.0)
    assert(!p.dims.contains("dc")) // deleting a dim regroups
    val rows = p.df.groupBy("batch_idx")
      .agg(sum("mean").as("sum"), max(unix_timestamp(col("time"))).as("t"))
      .orderBy("batch_idx").select("sum", "t").as[(Double, Long)].collect().toSeq
    assert(rows == Seq((50.0, 8L), (50.0, 18L)))
  }

  test("TestBatch_Join golden: exact-time join, per-era count, windowed sum") {
    // batcher_test.go:1970-2016: cpu0/cpu1 means join on exact times, 5
    // joined slots per 10s era, the 20s window sums two eras → 10 at t=28
    val Seq(c0, c1) = brplRebasedJoint("TestBatch_Join.0", "TestBatch_Join.1")
    def side(df: org.apache.spark.sql.DataFrame) = Pipe(
      df.select(col("time"), expr("CAST(fields['mean'] AS DOUBLE)").as("mean")),
      "time", Nil)
    val joined = side(c0).joinMulti("cpu0", Seq((side(c1), "cpu1")),
        toleranceSeconds = 0, on = Nil, fill = Pipe.FillNone)
      .filter(col("cpu0_mean").isNotNull && col("cpu1_mean").isNotNull)
    val counts = joined
      .withColumn("era", floor(col("jt_us") / 10000000L))
      .groupBy("era").agg(count(lit(1)).cast("double").as("count"),
        max("jt_us").as("t_us"))
      .select(timestamp_micros(col("t_us")).as("time"), col("count"))
    val w = WindowFSM.windowByTime(counts, "time", Nil, 20, 20)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 28000000L)
    assert(w.filter(col("wemit_us") === lastEmit)
      .agg(sum("count")).head.getDouble(0) == 10.0)
  }

  test("TestBatch_Flatten golden: per-dc service columns within 5s buckets") {
    // batcher_test.go:1724-1782: groupBy(dc) |flatten().on('service')
    // .tolerance(5s) over the t∈[10,20) batch era
    val b = brplRebased("TestBatch_Flatten.0")
      .withColumn("t", unix_timestamp(col("time")))
      .filter(col("t") >= 10 && col("t") < 20)
      .select(col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
    val out = Pipe(b, "time", Seq("dc", "service"))
      .flattenOnFields("service", Seq("auth", "cart", "log"), Seq("value"), 5, delimiter = "_")
      .df.orderBy("dc", "bucket_s")
      .select(col("dc"), col("bucket_s"), col("auth_value"), col("cart_value"),
        col("log_value"))
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("A", 10L, 4.0, 8.0, 7.0), ("A", 15L, 2.0, 3.0, 1.0),
      ("B", 10L, 9.0, 3.0, 5.0), ("B", 15L, 6.0, 7.0, 4.0)))
  }

  /** Batch combine era: points of the t∈[10,20) era with an arrival-order id
    * (the reference buffers per batch in point order). */
  private def combineEra(authFirst: Boolean) = {
    val order =
      if (authFirst) typedlit(Map("auth" -> 1L, "cart" -> 2L, "log" -> 3L))
      else null
    val base = brplRebased("TestBatch_Flatten.0")
      .withColumn("t", unix_timestamp(col("time")))
      .filter(col("t") >= 10 && col("t") < 20)
      .select(col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
    val withId =
      if (authFirst) base.withColumn("pid", order(col("service")))
      else base.withColumn("pid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("dc").orderBy("time")))
    Pipe(withId, "time", Seq("dc"), idCol = Some("pid"))
  }

  test("TestBatch_Combine_All golden: ordered pairs and their ratios at t=15") {
    // batcher_test.go:1784-1862: combine(TRUE,TRUE) over the era's second
    // 5s bucket (cart@15, auth@16, log@17 in arrival order)
    val pairs = combineEra(authFirst = false)
      .combineK(Seq(lit(true), lit(true)), 5, Seq("first", "second"))
      .filter(col("bucket_s") === 15)
      .withColumn("ratio", col("first_value") / col("second_value"))
    val got = pairs.select("dc", "first_service", "second_service", "ratio")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(got == Set(
      ("A", "cart", "auth", 3.0 / 2.0), ("A", "cart", "log", 3.0),
      ("A", "auth", "log", 2.0),
      ("B", "cart", "auth", 7.0 / 6.0), ("B", "cart", "log", 7.0 / 4.0),
      ("B", "auth", "log", 6.0 / 4.0)))
  }

  test("TestBatch_Combine fixture golden: both 5s buckets of the middle era") {
    // batcher_test.go:1784-1862 on the DEDICATED fixture (the assertions
    // above replay the same values from the Flatten fixture): bucket 10
    // holds cart/auth/log at 10/11/12, bucket 15 at 15/16/17 — the er's
    // six t=15 ratios plus the first bucket's
    val base = brplRebased("TestBatch_Combine.0")
      .withColumn("t", unix_timestamp(col("time")))
      .filter(col("t") >= 10 && col("t") < 20)
      .select(col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .withColumn("pid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("dc").orderBy("time")))
    val pairs = Pipe(base, "time", Seq("dc"), idCol = Some("pid"))
      .combineK(Seq(lit(true), lit(true)), 5, Seq("first", "second"))
      .withColumn("ratio", col("first_value") / col("second_value"))
    val got = pairs.select("bucket_s", "dc", "first_service", "second_service", "ratio")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(got == Set(
      (10L, "A", "cart", "auth", 8.0 / 4.0), (10L, "A", "cart", "log", 8.0 / 7.0),
      (10L, "A", "auth", "log", 4.0 / 7.0),
      (10L, "B", "cart", "auth", 3.0 / 9.0), (10L, "B", "cart", "log", 3.0 / 5.0),
      (10L, "B", "auth", "log", 9.0 / 5.0),
      (15L, "A", "cart", "auth", 3.0 / 2.0), (15L, "A", "cart", "log", 3.0),
      (15L, "A", "auth", "log", 2.0),
      (15L, "B", "cart", "auth", 7.0 / 6.0), (15L, "B", "cart", "log", 7.0 / 4.0),
      (15L, "B", "auth", "log", 6.0 / 4.0)))
  }

  test("TestBatch_Combine_Filtered golden: the auth point owns the first slot") {
    // batcher_test.go:1864-1924: combine(service=='auth', TRUE) — the
    // reference's greedy slot fill (combine.go:173-190) always lands the
    // auth point in slot 0 of any combination containing it, which the id
    // ordering encodes (same device as the stream Combine_Filtered golden)
    val pairs = combineEra(authFirst = true)
      .combineK(Seq(col("service") === "auth", lit(true)), 5, Seq("auth", "other"))
      .filter(col("bucket_s") === 15)
      .withColumn("ratio", col("auth_value") / col("other_value"))
    val got = pairs.select("dc", "other_service", "ratio")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("A", "log", 2.0), ("A", "cart", 2.0 / 3.0),
      ("B", "log", 6.0 / 4.0), ("B", "cart", 6.0 / 7.0)))
  }

  test("TestBatch_Combine_All_Triples golden: one ordered triple per dc") {
    // batcher_test.go:1926-1968: combine(TRUE×3) → the era bucket's single
    // arrival-ordered triple, summed
    val triples = combineEra(authFirst = false)
      .combineK(Seq(lit(true), lit(true), lit(true)), 5,
        Seq("first", "second", "third"))
      .filter(col("bucket_s") === 15)
      .withColumn("sum",
        col("first_value") + col("second_value") + col("third_value"))
    val got = triples
      .select("dc", "first_service", "second_service", "third_service", "sum")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(got == Set(
      ("A", "cart", "auth", "log", 6.0), ("B", "cart", "auth", "log", 17.0)))
  }

  test("TestBatch_JoinTolerance golden: offset batch clocks pair within 1s") {
    // batcher_test.go:2120-2169: cpu0 points at x.1/.3/.5 vs cpu1 at
    // x.2/.4/.6 — tolerance(1s) pairs them; count per batch; the 20s window
    // over counts 5,5,5 sums the first two → 10 at emit 28
    val Seq(c0, c1) = brplRebasedJoint(
      "TestBatch_JoinTolerance.0", "TestBatch_JoinTolerance.1")
    def side(df: org.apache.spark.sql.DataFrame) = Pipe(
      df.select(col("time"), expr("CAST(fields['mean'] AS DOUBLE)").as("mean")),
      "time", Nil)
    val joined = side(c0).joinMulti("cpu0", Seq((side(c1), "cpu1")),
      toleranceSeconds = 1, on = Nil, fill = Pipe.FillNone)
      .filter(col("cpu0_mean").isNotNull && col("cpu1_mean").isNotNull)
    val counts = joined
      .withColumn("era", floor(col("jt_us") / 10000000L))
      .groupBy("era").agg(count(lit(1)).as("count"), max("jt_us").as("t_us"))
      .select(timestamp_micros(col("t_us")).as("time"), col("count"))
    val w = WindowFSM.windowByTime(counts, "time", Nil, 20, 20)
    // the reference stops the replay at 30s, so its last completed window
    // is the one emitted at 28; era 2's count (rounded to t=29) belongs to
    // the next, never-completed window
    assert(w.filter(col("wemit_us") === 28000000L)
      .agg(sum("count")).head.getLong(0) == 10L)
  }

  /** Join_Fill era sums: join cpu0×cpu1 with the given fill, eval the pair
    * sum, sum per batch era, 20s window → (lastEmit, windowSum). */
  private def joinFillWindowSum(fill: Pipe.JoinFill): (Long, Double) = {
    val Seq(c0, c1) = brplRebasedJoint(
      "TestBatch_Join_Fill.0", "TestBatch_Join_Fill.1")
    def side(df: org.apache.spark.sql.DataFrame) = Pipe(
      df.select(col("time"), expr("CAST(fields['mean'] AS DOUBLE)").as("mean")),
      "time", Nil)
    val joined = side(c0).joinMulti("cpu0", Seq((side(c1), "cpu1")),
      toleranceSeconds = 0, on = Nil, fill = fill)
      .withColumn("cpu", col("cpu0_mean") + col("cpu1_mean"))
      .filter(col("cpu").isNotNull)
    val sums = joined
      .withColumn("era", floor(col("jt_us") / 10000000L))
      .groupBy("era").agg(sum("cpu").as("s"), max("jt_us").as("t_us"))
      .select(timestamp_micros(col("t_us")).as("time"), col("s"))
    val w = WindowFSM.windowByTime(sums, "time", Nil, 20, 20)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    (lastEmit, w.filter(col("wemit_us") === lastEmit)
      .agg(sum("s")).head.getDouble(0))
  }

  test("TestBatch_Join_NoFill golden: inner join drops unmatched slots") {
    // batcher_test.go:2171-2221: eras 396+480 in the emitted window → 876
    assert(joinFillWindowSum(Pipe.FillNone) == ((28000000L, 876.0)))
  }

  test("TestBatch_Join_Fill_Num golden: numeric fill completes the pairs") {
    // batcher_test.go:2223-2274: missing slots become 100 → 548+630 = 1178
    assert(joinFillWindowSum(Pipe.FillValue(100.0)) == ((28000000L, 1178.0)))
  }

  test("TestBatch_JoinOn golden: differently-grouped sides join on a tag subset") {
    // batcher_test.go:2276-2390: global per-service sums × per-(dc,service)
    // firsts, on('service'); value = dc.value / service.sum
    val Seq(dcDf, glDf) = brplRebasedJoint(
      "TestBatch_JoinOn.0", "TestBatch_JoinOn.1")
    val global = Pipe(glDf.select(col("time"),
        expr("tags['service']").as("service"),
        expr("CAST(fields['sum'] AS DOUBLE)").as("sum")),
      "time", Seq("service"))
    val byDc = Pipe(dcDf.select(col("time"),
        expr("tags['service']").as("service"), expr("tags['dc']").as("dc"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value")),
      "time", Seq("dc", "service"))
    val joined = global.joinMulti("service", Seq((byDc, "dc")),
        toleranceSeconds = 0, on = Seq("service"), fill = Pipe.FillNone)
      .withColumn("value", col("dc_value") / col("service_sum"))
    val got = joined
      .select(col("service"), col("dc"), (col("jt_us") / 1000000L).cast("long"),
        col("dc_value"), col("service_sum"), col("value"))
      .as[(String, String, Long, Double, Double, Double)].collect().toSet
    assert(got == Set(
      ("cart", "slc", 0L, 8.0, 11.0, 8.0 / 11.0),
      ("cart", "slc", 5L, 3.0, 10.0, 3.0 / 10.0),
      ("cart", "nyc", 0L, 3.0, 11.0, 3.0 / 11.0),
      ("cart", "nyc", 5L, 7.0, 10.0, 7.0 / 10.0),
      ("login", "slc", 0L, 4.0, 13.0, 4.0 / 13.0),
      ("login", "slc", 5L, 2.0, 8.0, 2.0 / 8.0),
      ("login", "nyc", 0L, 9.0, 13.0, 9.0 / 13.0),
      ("login", "nyc", 5L, 6.0, 8.0, 6.0 / 8.0)))
  }

  /** JoinOn_Fill shape shared by the Num and Null variants. */
  private def joinOnFillRows(fill: Pipe.JoinFill): Set[(String, Long, Double, Double)] = {
    val Seq(diskDf, maintDf) = brplRebasedJoint(
      "TestBatch_JoinOn_Fill.0", "TestBatch_JoinOn_Fill.1")
    val disk = Pipe(diskDf.select(col("time"), expr("tags['host']").as("host"),
        expr("tags['path']").as("path"),
        expr("CAST(fields['used_percent'] AS DOUBLE)").as("used_percent")),
      "time", Seq("host", "path"))
    val maint = Pipe(maintDf.select(col("time"), expr("tags['host']").as("host"),
        expr("CAST(fields['count'] AS DOUBLE)").as("count")),
      "time", Seq("host"))
    val joined = disk.joinMulti("disk", Seq((maint, "maintlock")),
        toleranceSeconds = 1, on = Seq("host"), fill = fill)
      // default().field('maintlock.count', 0) — a no-op for the numeric
      // fill, the thing that closes the nulls for fill('null')
      .withColumn("maintlock_count", coalesce(col("maintlock_count"), lit(0.0)))
      .filter(col("disk_used_percent").isNotNull)
    joined.select(col("path"), (col("jt_us") / 1000000L).cast("long"),
        col("disk_used_percent"), col("maintlock_count"))
      .as[(String, Long, Double, Double)].collect().toSet
  }

  private val joinOnFillExpected = Set[(String, Long, Double, Double)](
    ("/", 0L, 50.0, 0.0), ("/", 1L, 60.0, 0.0), ("/", 2L, 70.0, 0.0),
    ("/", 3L, 80.0, 1.0),
    ("/tmp", 0L, 40.0, 0.0), ("/tmp", 1L, 30.0, 0.0), ("/tmp", 2L, 20.0, 0.0),
    ("/tmp", 3L, 10.0, 1.0))

  test("TestBatch_JoinOn_Fill_Num golden: per-host lock fans to every path") {
    // batcher_test.go:2392-2478
    assert(joinOnFillRows(Pipe.FillValue(0.0)) == joinOnFillExpected)
  }

  test("TestBatch_JoinOn_Fill_Null golden: null fill closed by default()") {
    // batcher_test.go:2480-2566
    assert(joinOnFillRows(Pipe.FillNull) == joinOnFillExpected)
  }

  test("TestBatch_Trickle golden: batches stream through unchanged") {
    // batcher_test.go:2640-2674: trickle() re-emits batch points as stream
    // points — groups, times and values pass through intact
    val b = brplRebased("TestBatch_Trickle.0")
      .select(col("batch_idx"), col("time"), expr("tags['cpu']").as("cpu"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val out = Pipe(b, "time", Seq("cpu")).trickle().df
      .orderBy("cpu", "time")
      .select(col("cpu"), unix_timestamp(col("time")), col("mean"))
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("cpu-total", 0L, 90.38281469458698), ("cpu-total", 1L, 80.38281469458698),
      ("cpu0", 0L, 83.56930693069836)))
  }

  /** Batch alert events over the AlertStateChangesOnly fixture: level per
    * batch = highest point level, event time = first highest point (batch
    * TMax when OK) — reference alert.go:1022-1090. */
  private def alertStateChangesEvents(maxIntervalUs: Long) = {
    import graft.streaming.AlertStream
    val b = brplRebased("TestBatch_AlertStateChangesOnly.0")
      .select(col("batch_idx"), col("time"), expr("tags['cpu']").as("cpu"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
      .withColumn("batch_us", max(unix_micros(col("time")))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("batch_idx")))
    val lvl = AlertStream.levelColumn(lit(false), lit(false), col("mean") > 90)
    val batches = AlertStream.batchLevels(
      b, groupCol = col("cpu"), batchTimeUs = col("batch_us"),
      pointTimeUs = unix_micros(col("time")), idTiebreak = lit(0L),
      level = lvl, all = false)
    AlertStream.runBatchLevels(
      batches.select(col("group"), col("time_us").as("timeUs"), col("level"))
        .as[AlertStream.LevelPoint],
      AlertStream.AlertConfig(stateChangesOnly = true,
        stateChangesOnlyMaxIntervalUs = maxIntervalUs))
      .collect().toSeq
      .map(e => (e.timeUs / 1000000L, e.level, e.durationUs / 1000000L))
  }

  test("TestBatch_AlertStateChangesOnly golden: one CRIT, one recovery") {
    // batcher_test.go:1575-1642: CRIT at the first >90 point (t=0), OK at
    // the last batch's TMax (t=38, duration 38s); the critical batches in
    // between are suppressed
    assert(alertStateChangesEvents(0L) == Seq((0L, 3, 0L), (38L, 0, 38L)))
  }

  test("TestBatch_AlertStateChangesOnlyExpired golden: 15s re-emit interval") {
    // batcher_test.go:1644-1722: the unchanged CRIT re-fires at t=20 (20s
    // since the last emitted event ≥ 15s), then recovery at 38
    assert(alertStateChangesEvents(15000000L) ==
      Seq((0L, 3, 0L), (20L, 3, 20L), (38L, 0, 38L)))
  }


  // ---- InfluxQL missing-field semantics (streamer_test.go:126-167)

  test("TestStream_InfluxQLNodeMissingValue_Stream golden: agg skips absent-field points") {
    // mean('is_missing_value') sees exactly one point carrying the field
    val pts = srplRebased("TestStream_InfluxQLNodeMissingValue")
      .filter(col("measurement") === "packets")
      .select(col("time"), expr("fieldsFloat['is_missing_value']").as("v"))
      .filter(col("v").isNotNull)
    val got = pts.agg(avg("v"), max(unix_timestamp(col("time"))))
      .as[(Double, Long)].head()
    assert(got == ((1011.0, 10L)))
  }

  test("TestStream_InfluxQLNodeMissingValue_Batch golden: derivative drops the field entirely") {
    // derivative('value') drops points without `value` (including the one
    // carrying is_missing_value), so the downstream mean sees nothing
    val base = srplRebased("TestStream_InfluxQLNodeMissingValue")
      .filter(col("measurement") === "packets")
    val der = Pipe(base
        .select(col("time"), expr("fieldsFloat['value']").as("value"),
          expr("fieldsFloat['is_missing_value']").as("is_missing_value"))
        .filter(col("value").isNotNull), "time", Nil)
      .derivative("value").df
    assert(der.filter(col("is_missing_value").isNotNull).count() == 0)
  }

  // ---- stream JoinOn fill variants (streamer_test.go:5631-5804) — the
  // same per-host lock fan-out as the batch goldens, from the .srpl replay

  private def joinOnFillStreamRows(fill: Pipe.JoinFill): Set[(String, Long, Double, Double)] = {
    val base = srplRebased("TestStream_JoinOn_Fill")
    def side(meas: String, cols: Seq[(String, String)], dims: Seq[String]) = Pipe(
      base.filter(col("measurement") === meas)
        .select(col("time") +: cols.map { case (src, as) => expr(src).as(as) }: _*),
      "time", dims)
    val disk = side("disk", Seq("tags['host']" -> "host", "tags['path']" -> "path",
      "fieldsFloat['used_percent']" -> "used_percent"), Seq("host", "path"))
    val maint = side("maintlock", Seq("tags['host']" -> "host",
      "fieldsFloat['count']" -> "count"), Seq("host"))
    disk.joinMulti("disk", Seq((maint, "maintlock")),
        toleranceSeconds = 1, on = Seq("host"), fill = fill)
      .withColumn("maintlock_count", coalesce(col("maintlock_count"), lit(0.0)))
      .filter(col("disk_used_percent").isNotNull && col("jt_us") < 4000000L)
      .select(col("path"), (col("jt_us") / 1000000L).cast("long"),
        col("disk_used_percent"), col("maintlock_count"))
      .as[(String, Long, Double, Double)].collect().toSet
  }

  test("TestStream_JoinOn_Fill_Num golden: stream replay matches the batch shape") {
    assert(joinOnFillStreamRows(Pipe.FillValue(0.0)) == joinOnFillExpected)
  }

  test("TestStream_JoinOn_Fill_Null golden: null fill closed by default()") {
    assert(joinOnFillStreamRows(Pipe.FillNull) == joinOnFillExpected)
  }


  // ---- derivative prop variants over the batch fixtures
  // (batcher_test.go:245-430)

  test("TestBatch_DerivativeAs golden: named rate rides beside the original") {
    val b = brplRebased("TestBatch_Derivative.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx"))
      .derivative("value", as = "derivative").df
      .orderBy("time")
      .select(unix_timestamp(col("time")), col("derivative"), col("value"))
      .as[(Long, Double, Double)].collect().toSeq
    assert(out == Seq((2L, 0.5, 1001.0), (4L, 0.5, 1002.0),
      (6L, 0.5, 1003.0), (8L, 1.0, 1005.0)))
  }

  test("TestBatch_DerivativeUnit golden: 2s unit doubles the per-second rate") {
    val b = brplRebased("TestBatch_Derivative.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx"))
      .derivative("value", unitSeconds = 2.0).df
      .orderBy("time").select(unix_timestamp(col("time")), col("derivative"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 1.0, 4L -> 1.0, 6L -> 1.0, 8L -> 2.0))
  }

  test("TestBatch_DerivativeN golden: the negative rate is emitted without nonNegative") {
    val b = brplRebased("TestBatch_DerivativeNN.0")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
    val out = Pipe(b, "time", Seq("batch_idx")).derivative("value").df
      .orderBy("time").select(unix_timestamp(col("time")), col("derivative"))
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq(2L -> 0.5, 4L -> 0.5, 6L -> -501.0, 8L -> 0.5))
  }

  test("TestBatch_GroupBy_TimeOffset golden: offset bucket grid shifts the windows") {
    // batcher_test.go:868-921: groupBy(time(2s, 1s)) — buckets are
    // floor((t-1)/2)*2+1; counts per (cpu, offset-bucket) then the 20s
    // window sums the per-batch counts → 10 per cpu at emit 28
    val b = brplRebased("TestBatch_SimpleMR.0")
      .select(col("batch_idx"), expr("tags['cpu']").as("cpu"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
      .filter(col("mean").isNotNull)
      .withColumn("obucket",
        (floor((unix_timestamp(col("time")) - 1) / 2) * 2 + 1).cast("long"))
    // every point lands in exactly one offset bucket; counting per batch
    // still totals the batch's points
    val counts = b.groupBy("cpu", "batch_idx")
      .agg(count(lit(1)).as("count"), max("time").as("time"))
    val w = WindowFSM.windowByTime(
      counts.select(col("cpu"), col("time"), col("count")), "time", Seq("cpu"), 20, 20)
    val lastEmit = w.agg(max("wemit_us")).head.getLong(0)
    assert(lastEmit == 28000000L)
    val sums = w.filter(col("wemit_us") === lastEmit)
      .groupBy("cpu").agg(sum("count").as("sum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("cpu-total" -> 10L, "cpu0" -> 10L, "cpu1" -> 10L))
    // and the offset grid itself: buckets are odd-numbered starts
    assert(b.select(pmod(col("obucket"), lit(2)).cast("int")).distinct()
      .as[Int].collect().toSeq == Seq(1))
  }

  // ---- count-window edge cases (streamer_test.go:1005-1230)

  test("TestStream_Window_Count_Every_1 golden: per-point emission of the last-3 window") {
    // periodCount(3).everyCount(1) |count — running count saturating at 3
    val pts = srplRebased("TestStream_Window")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
      .limit(10)
    val p = Pipe(pts, "time", Nil)
    val (framed, spec) = p.windowCount(3)
    val out = framed.withColumn("count", count(lit(1)).over(spec))
      .orderBy("__rn").select("count").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L, 3L, 3L, 3L, 3L, 3L, 3L, 3L))
  }

  test("TestStream_Window_Every_0 golden: every=0 emits the period window per point") {
    // window(10s, every=0s) |count — each point emits the window ending at
    // it: counts 1..10 across the first 10 seconds
    val pts = srplRebased("TestStream_Window")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val p = Pipe(pts.filter(unix_timestamp(col("time")) < 10), "time", Nil)
      .windowPerPoint(10, "value")
    val out = p.df.orderBy("time").select("w_cnt").as[Long].collect().toSeq
    assert(out == (1L to 10L))
  }

  test("TestBatch_Where_NoSideEffect golden: a sibling where cannot mutate the source") {
    // batcher_test.go:670-763: an unused `data |where(FALSE)` branch must
    // not affect `data`'s own rows — DataFrame immutability IS the
    // reference's copy-on-write contract, pinned here end-to-end
    val b = brplRebased("TestBatch_SimpleMR.0")
      .filter(expr("tags['cpu']") === "cpu-total")
      .select(col("batch_idx"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
      .filter(col("mean").isNotNull)
    val data = Pipe(b, "time", Seq("batch_idx")).where(col("mean") > 85)
    val unused = data.where(lit(false))
    assert(unused.df.count() == 0)
    val lastIdx = b.agg(max("batch_idx")).head.getInt(0)
    val rows = data.df.filter(col("batch_idx") === lastIdx)
      .orderBy("time").select(unix_timestamp(col("time")), col("mean"))
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq(
      20L -> 91.06416290101595, 22L -> 85.9694442394385,
      24L -> 90.62985736134186, 26L -> 86.45443196005628,
      28L -> 88.97243107764031))
  }


  // ---- batch alert emission shape (batcher_test.go:1263-1575): the WHOLE
  // batch re-emits with the batch's level stamped per point; level = highest
  // point level (lowest with .all()), event time = first highest point (TMax
  // when OK), duration measured from the run's first non-OK batch event.

  private def simpleMrAlertPoints = {
    val b = brplRebased("TestBatch_SimpleMR.0")
      .filter(expr("tags['cpu']") =!= "cpu-total")
      .select(col("batch_idx"), expr("tags['cpu']").as("cpu"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
      .filter(col("mean").isNotNull)
    b.withColumn("batch_us", max(unix_micros(col("time")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy("cpu", "batch_idx")))
  }

  /** Batch alert events for crit=`mean > thr`; returns (cpu, eventTimeS,
    * level, durationS) per emitted batch event. */
  private def batchAlertEvents(pts: org.apache.spark.sql.DataFrame,
      thr: Double, all: Boolean) = {
    import graft.streaming.AlertStream
    val lvl = AlertStream.levelColumn(lit(false), lit(false), col("mean") > thr)
    val batches = AlertStream.batchLevels(
      pts, groupCol = col("cpu"), batchTimeUs = col("batch_us"),
      pointTimeUs = unix_micros(col("time")), idTiebreak = lit(0L),
      level = lvl, all = all)
    AlertStream.runBatchLevels(
      batches.select(col("group"), col("time_us").as("timeUs"), col("level"))
        .as[AlertStream.LevelPoint],
      AlertStream.AlertConfig())
      .collect().toSeq
      .map(e => (e.group, e.timeUs / 1000000L, e.level, e.durationUs / 1000000L))
  }

  test("TestBatch_AlertLevelField/Tag/Duration/Message golden: last batch re-emits stamped") {
    val pts = simpleMrAlertPoints
    val events = batchAlertEvents(pts, 95.0, all = false)
    // the cpu1 run: CRIT from its first >95 point, still CRIT at the last
    // batch's event (t=20, duration 14s — reference er values)
    val last = events.filter(e => e._1 == "cpu1").maxBy(_._2)
    assert(last == (("cpu1", 20L, 3, 14L)))
    // per-point emission: the event's batch re-emits, each point stamped
    // with the batch level, default id Name:Group, rendered message
    val lastBatch = pts.filter(col("cpu") === "cpu1" && col("batch_us") === 28000000L)
      .withColumn("level", lit("CRITICAL"))
      .withColumn("id", concat(lit("cpu_usage_idle:cpu="), col("cpu")))
      .withColumn("msg", concat(col("id"), lit(" is "), col("level")))
      .withColumn("duration", lit(last._4 * 1000000000L).cast("double"))
      .orderBy("time")
      .select(unix_timestamp(col("time")), col("id"), col("level"),
        col("duration"), col("msg"), col("mean"))
      .as[(Long, String, String, Double, String, Double)].collect().toSeq
    assert(lastBatch.map(r => (r._1, r._6)) == Seq(
      20L -> 96.49999999996908, 22L -> 93.46464646468584,
      24L -> 95.00950095007724, 26L -> 92.99999999998636,
      28L -> 90.99999999998545))
    assert(lastBatch.forall(r => r._2 == "cpu_usage_idle:cpu=cpu1" &&
      r._3 == "CRITICAL" && r._4 == 14e9 &&
      r._5 == "cpu_usage_idle:cpu=cpu1 is CRITICAL"))
    // cpu0 never crosses 95 → stays OK → no emitted events
    assert(!events.exists(_._1 == "cpu0"))
  }

  test("TestBatch_AlertAll golden: .all() requires every point over the line") {
    val pts = simpleMrAlertPoints
    // crit > 92 with all(): cpu1's last batch has a 91.0 → not all → OK,
    // and OK-without-change never emits (the reference's empty er)
    assert(batchAlertEvents(pts, 92.0, all = true).isEmpty)
    // crit > 90 with all(): every cpu1 last-batch point is over → CRIT at
    // the batch time (all() stamps the batch time, not the highest point)
    val ev = batchAlertEvents(pts, 90.0, all = true)
    val cpu1 = ev.filter(_._1 == "cpu1").maxBy(_._2)
    assert(cpu1._2 == 28L && cpu1._3 == 3)
  }


  test("TestStream_HttpPostEndpoint_CustomBody golden: row template bytes match") {
    // streamer_test.go:3694-3772: the endpoint RowTemplate renders one
    // line per streamed point; first point of the fixture pins the bytes
    val pts = srplRebased("TestStream_HttpPost")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("measurement"), col("time"), col("tags"),
        expr("fieldsFloat['value']").as("value"))
    val tpl = """{{.Name}} host={{index .Tags "host"}} type={{index .Tags "type"}}{{range .Values}} {{index . "time"}} {{index . "value"}}{{end}}"""
    val rendered = pts.withColumn("body", graft.sources.Sinks.rowTemplate(
        tpl, col("measurement"),
        Map("host" -> expr("tags['host']"), "type" -> expr("tags['type']")),
        col("time"), Map("value" -> col("value"))))
      .orderBy("time").select("body").as[String].collect().toSeq
    assert(rendered.head ==
      "cpu host=serverA type=idle 1971-01-01 00:00:00 +0000 UTC 97.1"
        .replace("1971-01-01", "1970-01-01")) // replay rebased to epoch
    assert(rendered(1).endsWith("00:00:01 +0000 UTC 92.6"))
    assert(rendered(2).endsWith("00:00:02 +0000 UTC 95.6"))
  }

}
