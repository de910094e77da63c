package graft

import graft.tick.TickScript
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class TickScriptSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private val source = Seq(
    ("cpu", "serverA", ts(0), 40.0, 1L),
    ("cpu", "serverA", ts(5), 60.0, 2L),
    ("cpu", "serverA", ts(10), 80.0, 3L),
    ("cpu", "serverA", ts(15), 90.0, 4L),
    ("cpu", "serverB", ts(0), 10.0, 5L),
    ("mem", "serverA", ts(0), 99.0, 6L))
    .toDF("measurement", "host", "time", "usage", "id")

  test("lexer handles strings, field refs, durations, operators, comments") {
    import TickScript._
    val toks = lex("""|from().where(lambda: "usage" > 70.5) // tail
                      |.period(10s)""".stripMargin)
    assert(toks.contains(TStr("")) == false)
    assert(toks.contains(TFieldRef("usage")))
    assert(toks.contains(TDur(10.0)))
    assert(toks.contains(TOp(">")))
  }

  test("the README cpu_alert pipeline compiles and runs end to end") {
    val script =
      """stream
        ||from().measurement('cpu').groupBy('host')
        ||window().period(10s).every(10s)
        ||mean('usage')
        ||alert().warn(lambda: "mean" > 70).crit(lambda: "mean" > 85)
        ||httpOut('cpu_alert')
        |""".stripMargin
    val out = TickScript.compile(script, source, idCol = Some("id"))
      .orderBy("host", "bucket_s")
      .select($"host", $"bucket_s", $"mean", $"level")
      .as[(String, Long, Double, Int)].collect().toSeq
    assert(out == Seq(
      ("serverA", 0L, 50.0, 0), // mean(40,60) → OK
      ("serverA", 10L, 85.0, 2), // mean(80,90) → WARNING (not > 85)
      ("serverB", 0L, 10.0, 0)))
  }

  test("where + eval + stateCount chain") {
    val script =
      """stream
        ||from().measurement('cpu').groupBy('host')
        ||eval(lambda: "usage" * 2 + 1).as('v2')
        ||where(lambda: "v2" > 100 AND "host" == 'serverA')
        ||stateCount(lambda: "v2" > 120)
        |""".stripMargin
    val out = TickScript.compile(script, source, idCol = Some("id"))
      .orderBy("id").select($"v2", $"state_count").as[(Double, Long)].collect().toSeq
    // v2: 121, 161, 181 pass the where; stateCount counts v2>120 runs
    assert(out == Seq((121.0, 1L), (161.0, 2L), (181.0, 3L)))
  }

  test("derivative and stateChangesOnly alert") {
    val script =
      """stream
        ||from().measurement('cpu').where(lambda: "host" == 'serverA').groupBy('host')
        ||derivative('usage')
        ||alert().crit(lambda: "derivative" >= 4).stateChangesOnly()
        |""".stripMargin
    val out = TickScript.compile(script, source, idCol = Some("id"))
      .orderBy("time").select($"level").as[Int].collect().toSeq
    // derivatives: 4, 4, 2 → CRIT, (suppressed), OK
    assert(out == Seq(3, 0))
  }

  test("the reference repo's own example scripts compile and run") {
    // line-protocol fixture → parsed points → pivoted field columns,
    // exactly what a reference user's telegraf cpu stream looks like
    val lines = Seq(
      "cpu,host=a,cpu=cpu0 usage_idle=5.0,usage_user=90.0 1000000000",
      "cpu,host=a,cpu=cpu0 usage_idle=50.0,usage_user=20.0 11000000000",
      "cpu,host=b,cpu=cpu1 usage_idle=15.0,usage_user=40.0 1000000000",
      "system,host=a load1=0.5 1000000000").toDS()
    val pts = graft.sources.LineProtocol.toPointFrame(graft.sources.LineProtocol.parse(lines))
      .select(col("measurement"), col("time"), col("tags"),
        expr("fieldsFloat['usage_idle']").as("usage_idle"),
        expr("fieldsFloat['usage_user']").as("usage_user"))

    // examples/load/tasks/cpu_alert.tick (verbatim shape)
    val cpuAlert =
      """dbrp "telegraf"."autogen"
        |dbrp "telegraf"."autogen_not"
        |stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy(*)
        |    |alert()
        |        .warn(lambda: "usage_idle" < 20)
        |        .crit(lambda: "usage_idle" < 10)
        |""".stripMargin
    val out = TickScript.compile(cpuAlert, pts)
      .select($"group_id", $"usage_idle", $"level")
      .as[(String, Double, Int)].collect().toSet
    assert(out == Set(
      ("cpu=cpu0,host=a", 5.0, 3), // crit
      ("cpu=cpu0,host=a", 50.0, 0),
      ("cpu=cpu1,host=b", 15.0, 2))) // warn

    // examples/nodes/tasks/alert.tick
    val alertTick =
      """dbrp "telegraf"."autogen"
        |stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy(*)
        |    |alert()
        |        .crit(lambda: "usage_user" > 80)
        |""".stripMargin
    val crits = TickScript.compile(alertTick, pts).filter($"level" === 3).count()
    assert(crits == 1)

    // examples/nodes/tasks/httpout.tick (window shape)
    val httpOutTick =
      """dbrp "telegraf"."autogen"
        |stream
        |    |from()
        |        .measurement('system')
        |    |window()
        |        .period(1m)
        |        .every(10s)
        |    |httpOut('data')
        |""".stripMargin
    val windows = TickScript.compile(httpOutTick, pts)
    assert(windows.count() == 6) // one point covers 60s/10s = 6 sliding windows
  }

  test("the error_percent example (vars + query + join + eval) compiles and runs") {
    // examples/error_percent/error_percent.tick, verbatim shape
    val script =
      """// Get errors batch data
        |var errors = batch
        |    |query('SELECT sum(value) FROM "pages"."default".errors')
        |        .period(1h)
        |        .every(1h)
        |        .groupBy(time(1m), *)
        |        .fill(0)
        |
        |var views = batch
        |    |query('SELECT sum(value) FROM "pages"."default".views')
        |        .period(1h)
        |        .every(1h)
        |        .groupBy(time(1m), *)
        |        .fill(0)
        |
        |errors
        |    |join(views)
        |        .as('errors', 'views')
        |    |eval(lambda: "errors.sum" / ("views.sum" + "errors.sum"))
        |        .as('value')
        |    |influxDBOut()
        |        .database('pages')
        |        .measurement('error_percent')
        |""".stripMargin
    val lines = Seq(
      "errors,page=home value=5.0 0",
      "errors,page=home value=5.0 30000000000",
      "views,page=home value=90.0 0",
      "views,page=home value=100.0 60000000000",
      "errors,page=home value=2.0 60000000000").toDS()
    val pts = graft.sources.LineProtocol.toPointFrame(graft.sources.LineProtocol.parse(lines))
      .select(col("measurement"), col("time"), col("tags"),
        expr("fieldsFloat['value']").as("value"))
    val out = TickScript.compile(script, pts)
      .orderBy("bucket_s")
      .select($"bucket_s", $"value").as[(Long, Double)].collect().toSeq
    // minute 0: errors 10, views 90 → 10/(90+10)=0.1; minute 60: 2/(100+2)
    assert(out == Seq((0L, 0.1), (60L, 2.0 / 102.0)))
  }

  test("join .tolerance() and .fill() compile to the outer time-keyed join") {
    // the TestStream_Join_Fill shape: unwindowed streams joined on
    // tolerance-rounded time, missing sides filled with 0.0
    val script =
      """var errors = stream
        |    |from()
        |        .measurement('errors')
        |var views = stream
        |    |from()
        |        .measurement('views')
        |errors
        |    |join(views)
        |        .as('errors', 'views')
        |        .tolerance(1s)
        |        .fill(0.0)
        |    |eval(lambda: "errors.value" + "views.value")
        |        .as('total')
        |    |httpOut('out')
        |""".stripMargin
    val lines = Seq(
      "errors,page=home value=5.0 0",
      "views,page=home value=90.0 0",
      "errors,page=home value=2.0 60000000000", // no matching view → filled
      "views,page=home value=80.0 120000000000").toDS()
    val pts = graft.sources.LineProtocol.toPointFrame(graft.sources.LineProtocol.parse(lines))
      .select(col("measurement"), col("time"), col("tags"),
        expr("fieldsFloat['value']").as("value"))
    val out = TickScript.compile(script, pts)
      .orderBy("__jt").select($"__jt", $"total").as[(Long, Double)].collect().toSeq
    assert(out == Seq((0L, 95.0), (60L, 2.0), (120L, 80.0)))
  }

  test("the join example (shared var, 3-way join, eval keep) compiles and runs") {
    // examples/load/tasks/join.tick, verbatim shape
    val script =
      """dbrp "telegraf"."autogen"
        |var data = stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy(*)
        |    |eval()
        |        .keep('usage_user')
        |    |window()
        |        .period(10s)
        |        .every(10s)
        |var mean_data = data
        |  |mean('usage_user')
        |    .as('usage_user')
        |var max_data = data
        |  |max('usage_user')
        |    .as('usage_user')
        |var min_data = data
        |  |min('usage_user')
        |    .as('usage_user')
        |mean_data
        |  |join(max_data, min_data)
        |    .as('mean','max','min')
        |  |eval(lambda: "mean.usage_user", lambda: "max.usage_user", lambda: "min.usage_user")
        |    .as('mean_usage','max_usage','min_usage')
        |  |log()
        |  |influxDBOut()
        |    .database('downit')
        |    .measurement('idk')
        |""".stripMargin
    val lines = Seq(
      "cpu,host=a usage_user=10.0 1000000000",
      "cpu,host=a usage_user=30.0 5000000000",
      "cpu,host=a usage_user=20.0 12000000000").toDS()
    val pts = graft.sources.LineProtocol.toPointFrame(graft.sources.LineProtocol.parse(lines))
      .select(col("measurement"), col("time"), col("tags"),
        expr("fieldsFloat['usage_user']").as("usage_user"))
    val out = TickScript.compile(script, pts)
      .orderBy("bucket_s")
      .select($"bucket_s", $"mean_usage", $"max_usage", $"min_usage")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(out == Seq((0L, 20.0, 30.0, 10.0), (10L, 20.0, 20.0, 20.0)))
  }

  test("union and deadman nodes compile and run") {
    val script =
      """var clicks = stream
        |    |from().measurement('cpu').groupBy('host')
        |var mems = stream
        |    |from().measurement('mem').groupBy('host')
        |clicks
        |    |union(mems)
        |    |deadman(0.0, 10s)
        |""".stripMargin
    val out = TickScript.compile(script, source, idCol = Some("id"))
    // 6 points over host dim: deadman emits one row per (host, 10s bucket)
    val rows = out.select($"host", $"bucket_s", $"emitted", $"level").collect()
    assert(rows.nonEmpty && rows.forall(r => r.getAs[String]("level") == "OK" || r.getAs[Long]("emitted") == 0))
  }

  test("the same script compiles unchanged onto a streaming source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val script =
      """stream
        ||from().measurement('cpu').groupBy('host')
        ||window().period(10s).every(10s)
        ||mean('usage')
        ||alert().warn(lambda: "mean" > 70).crit(lambda: "mean" > 85)
        |""".stripMargin
    val ms = MemoryStream[(String, String, Long, Double, Long)]
    val streamSource = ms.toDS()
      .toDF("measurement", "host", "timeUs", "usage", "id")
      .withColumn("time", timestamp_micros($"timeUs"))
    // identical compile path, streaming plan out
    val compiled = TickScript.compile(script, streamSource, idCol = Some("id"))
    assert(compiled.isStreaming)
    val q = compiled.writeStream.format("memory").queryName("tick_stream")
      .outputMode("update").start()
    try {
      ms.addData(source.collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getTimestamp(2).getTime * 1000, r.getDouble(3), r.getLong(4))))
      q.processAllAvailable()
      val streamed = spark.table("tick_stream")
        .select($"host", $"bucket_s", $"mean", $"level")
        .as[(String, Long, Double, Int)].collect().toSet
      val batch = TickScript.compile(script, source, idCol = Some("id"))
        .select($"host", $"bucket_s", $"mean", $"level")
        .as[(String, Long, Double, Int)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("the base_template example compiles with task-definition vars") {
    // examples/load/templates/base_template.tick, verbatim shape
    val template =
      """var measurement string
        |var where_filter = lambda: TRUE
        |var groups = [*]
        |var field string
        |var warn lambda
        |var crit lambda
        |var window = 5m
        |var slack_channel = '#alerts'
        |
        |stream
        |    |from()
        |        .measurement(measurement)
        |        .where(where_filter)
        |        .groupBy(groups)
        |    |window()
        |        .period(window)
        |        .every(window)
        |    |mean(field)
        |    |alert()
        |         .warn(warn)
        |         .crit(crit)
        |""".stripMargin
    val lines = Seq(
      "cpu,host=a usage_idle=5.0 1000000000",
      "cpu,host=a usage_idle=50.0 400000000000",
      "mem,host=a used=1.0 1000000000").toDS()
    val pts = graft.sources.LineProtocol.toPointFrame(graft.sources.LineProtocol.parse(lines))
      .select(col("measurement"), col("time"), col("tags"),
        expr("fieldsFloat['usage_idle']").as("usage_idle"))
    // unbound template vars are rejected
    intercept[IllegalArgumentException](TickScript.compile(template, pts))
    val out = TickScript.compile(template, pts, templateVars = Map(
      "measurement" -> "cpu",
      "field" -> "usage_idle",
      "warn" -> TickScript.lambdaExpr("\"mean\" < 20"),
      "crit" -> TickScript.lambdaExpr("\"mean\" < 10")))
      .orderBy("bucket_s").select($"group_id", $"mean", $"level")
      .as[(String, Double, Int)].collect().toSeq
    assert(out == Seq(("host=a", 5.0, 3), ("host=a", 50.0, 0)))
  }

  test("unsupported nodes fail loudly") {
    intercept[IllegalArgumentException] {
      TickScript.compile("stream |nope()", source)
    }
  }

  /** Replay fixture rebased to t=0 (the integration harness's convention). */
  private def srpl(name: String) = {
    val df = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata(s"$name.srpl"))
    val mn = df.agg(min("ts_ns")).head.getLong(0)
    df.withColumn("time", timestamp_seconds(col("ts_ns") - mn))
  }

  test("the reference TestStream_Flatten script compiles verbatim") {
    // streamer_test.go:4379-4389
    val script =
      """stream
        |	|from()
        |		.measurement('request_latency')
        |		.groupBy('dc')
        |	|flatten()
        |		.on('service', 'host')
        |		.tolerance(1s)
        |    |httpOut('TestStream_Flatten')
        |""".stripMargin
    val pts = srpl("TestStream_Flatten")
      .filter(col("measurement") === "request_latency")
      .select(col("measurement"), col("time"),
        expr("tags['dc']").as("dc"), expr("tags['service']").as("service"),
        expr("tags['host']").as("host"), expr("fieldsFloat['value']").as("value"))
    val out = TickScript.compile(script, pts)
    val a = out.filter($"dc" === "A" && $"bucket_s" === 0).head
    // reference er columns: <service>.<host>.value (streamer_test.go:4396)
    assert(a.getAs[Double]("auth.server01.value") == 700.0)
    assert(a.getAs[Double]("auth.server02.value") == 702.0)
    assert(a.getAs[Double]("log.server01.value") == 600.0)
    assert(a.getAs[Double]("cart.server02.value") == 802.0)
    val b = out.filter($"dc" === "B" && $"bucket_s" === 0).head
    assert(b.getAs[Double]("auth.server01.value") == 750.0)
  }

  test("the reference TestStream_Combine_All script compiles verbatim") {
    // streamer_test.go:4476-4491 (delimiter '.', tolerance 1s)
    val script =
      """stream
        |	|from()
        |		.measurement('request_latency')
        |		.groupBy('dc')
        |	|combine(lambda: TRUE, lambda: TRUE)
        |		.as('first', 'second')
        |		.tolerance(1s)
        |		.delimiter('.')
        |    |httpOut('TestStream_Combine')
        |""".stripMargin
    val arrival = typedlit(Map("auth" -> 1L, "log" -> 2L, "cart" -> 3L))
    val pts = srpl("TestStream_Combine")
      .filter(col("measurement") === "request_latency")
      .select(col("measurement"), col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("fieldsFloat['value']").as("value"),
        arrival(expr("tags['service']")).as("id"))
    val out = TickScript.compile(script, pts, idCol = Some("id"))
      .filter($"bucket_s" === 0)
      .withColumn("ratio", col("`first.value`") / col("`second.value`"))
    val got = out.select($"dc", $"`first.service`", $"`second.service`", $"ratio")
      .as[(String, String, String, Double)].collect().toSet
    assert(got.contains(("A", "auth", "log", 700.0 / 600.0)))
    assert(got.contains(("B", "log", "cart", 650.0 / 850.0)))
    assert(got.size == 6)
  }

  test("the reference TestStream_HoltWinters script compiles verbatim") {
    // streamer_test.go:483-495; forecasts within the documented tolerance
    val script =
      """stream
        |	|from()
        |		.measurement('packets')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|holtWinters('value', 3, 0, 1s)
        |	|where(lambda: "host" == 'serverA')
        |	|httpOut('TestStream_HoltWinters')
        |""".stripMargin
    val pts = srpl("TestStream_HoltWinters")
      .select(col("measurement"), col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    val out = TickScript.compile(script, pts)
      .filter($"bucket_s" === 0).orderBy("time")
      .select(unix_timestamp($"time"), $"holtWinters")
      .as[(Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(10L, 11L, 12L))
    val expected = Seq(1009.324690106368, 1009.7524349889708, 1010.105056042826)
    out.map(_._2).zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 0.1, s"$got vs $want")
    }
  }

  test("the reference TestStream_StateDuration/StateCount scripts compile verbatim") {
    // streamer_test.go:13554-13693: .unit(1ms) durations and run counters
    val durScript =
      """var data = stream
        |	|from().measurement('cpu')
        |	|groupBy('host')
        |data
        |	|stateDuration(lambda: "value" > 95)
        |		.unit(1ms)
        |		.as('my_duration')
        |	|window().period(4s).every(4s)
        |	|httpOut('TestStream_StateTracking')
        |""".stripMargin
    val pts = srpl("TestStream_StateTracking")
      .filter(col("measurement") === "cpu")
      .select(col("measurement"), col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
      .filter(col("value").isNotNull)
    val dur = TickScript.compile(durScript, pts)
      .filter($"host" === "serverA" && $"bucket_s" === 0)
      .orderBy("time")
      .select(unix_timestamp($"time"), $"my_duration")
      .as[(Long, Double)].collect().toSeq
    // er serverA: 0ms at t=0, 1000ms at t=1, -1 at t=2, 0ms at t=3
    assert(dur == Seq((0L, 0.0), (1L, 1000.0), (2L, -1.0), (3L, 0.0)))

    val cntScript =
      """var data = stream
        |	|from().measurement('cpu')
        |	|groupBy('host')
        |data
        |	|stateCount(lambda: "value" > 95)
        |		.as('my_count')
        |	|window().period(4s).every(4s)
        |	|httpOut('TestStream_StateTracking')
        |""".stripMargin
    val cnt = TickScript.compile(cntScript, pts)
      .filter($"host" === "serverB" && $"bucket_s" === 0)
      .orderBy("time")
      .select(unix_timestamp($"time"), $"my_count")
      .as[(Long, Long)].collect().toSeq
    // er serverB: -1 at t=0, 1 at t=1, 2 at t=3 (t=2 has no value)
    assert(cnt == Seq((0L, -1L), (1L, 1L), (3L, 2L)))
  }

  test("the reference TestStream_Join_Delimiter script compiles verbatim") {
    // streamer_test.go:4785-4858: '#' delimiter; er error_percent 0.01
    val script =
      """var errorCounts = stream
        |	|from()
        |		.measurement('errors')
        |		.groupBy('service')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |		.align()
        |	|sum('value')
        |
        |var viewCounts = stream
        |	|from()
        |		.measurement('views')
        |		.groupBy('service')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |		.align()
        |	|sum('value')
        |
        |errorCounts
        |	|join(viewCounts)
        |		.as('errors', 'views')
        |		.delimiter('#')
        |		.streamName('error_view')
        |	|eval(lambda: "errors#sum" / "views#sum")
        |		.as('error_percent')
        |		.keep()
        |	|httpOut('TestStream_Join')
        |""".stripMargin
    val pts = srpl("TestStream_Join")
      .select(col("measurement"), col("time"),
        expr("tags['service']").as("service"),
        expr("fieldsFloat['value']").as("value"))
      .filter(col("service").isNotNull)
    val out = TickScript.compile(script, pts)
      .filter($"bucket_s" === 0)
      .select($"service", $"`errors#sum`", $"`views#sum`", $"error_percent")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      "cartA" -> ((47.0, 4700.0, 0.01)),
      "login" -> ((45.0, 4500.0, 0.01)),
      "front" -> ((32.0, 3200.0, 0.01))))
  }

  test("the reference TestStream_Sideload script compiles verbatim") {
    // streamer_test.go:12268-12339 (yml order; fields + tag defaults)
    val script =
      s"""stream
        |	|from()
        |		.database('dbname')
        |		.retentionPolicy('rpname')
        |		.measurement('m')
        |		.groupBy('t0', 't1', 't2')
        |	|sideload()
        |		.source('file://${RefFixtures.testdata("sideload")}')
        |		.order('t0/{{.t0}}.yml', 't1/{{.t1}}.yml', 't2/{{.t2}}.yml')
        |		.field('f1', 0)
        |		.field('f2', 0.0)
        |		.tag('t3', 'one')
        |	|log()
        |	|httpOut('TestStream_Sideload')
        |""".stripMargin
    val pts = srpl("TestStream_Sideload")
      .filter(col("measurement") === "m")
      .select(col("measurement"), col("time"), expr("tags['t0']").as("t0"),
        expr("tags['t1']").as("t1"), expr("tags['t2']").as("t2"),
        expr("fieldsFloat['value']").as("value"))
    val out = TickScript.compile(script, pts)
    val rows = out.collect().map(r => (
      r.getAs[String]("t0"),
      (r.getAs[String]("f1"), r.getAs[String]("f2"), r.getAs[String]("t3")))).toMap
    assert(rows == Map(
      "a" -> (("0", "0.0", "one")),
      "b" -> (("2", "3.5", "why")),
      "c" -> (("12", "13.5", "why"))))
  }

  // ================= round-8: align/fillPeriod, handler chains, inhibit

  test("window().align().fillPeriod() compiles to the windowAligned derivation") {
    val script =
      """stream
        |	|from()
        |		.measurement('m')
        |	|window()
        |		.period(6s)
        |		.every(2s)
        |		.align()
        |		.fillPeriod()
        |	|httpOut('w')
        |""".stripMargin
    val rows = (0L until 20L).map(t => ("m", ts(t), t.toDouble))
    val pts = rows.toDF("measurement", "time", "value")
    val out = TickScript.compile(script, pts)
      .groupBy("bucket_s").count()
      .as[(Long, Long)].collect().toMap
    val direct = graft.api.Pipe(pts, "time", Nil)
      .windowAligned(6, 2, fillPeriod = true).df
      .groupBy("wemit_s").count()
      .as[(Long, Long)].collect().toMap
    assert(out == direct && out.nonEmpty)
    assert(out.keys.min == 8L) // fillPeriod suppresses boundaries before t0+period
  }

  private def alertFixture = srpl("TestStream_Alert")
    .filter(col("measurement") === "cpu")
    .select(col("measurement"), col("time"), col("tags"),
      expr("tags['host']").as("host"), expr("fieldsFloat['value']").as("value"))

  // alertFixture's columns and types, two rows: for specs whose assertions
  // read no row (a definition-time refusal, or a check of the columns only)
  private def alertShaped = Seq(
      ("cpu", ts(0), Map("host" -> "serverA"), "serverA", 90.0),
      ("cpu", ts(10), Map("host" -> "serverB"), "serverB", 10.0))
    .toDF("measurement", "time", "tags", "host", "value")

  test("the reference TestStream_AlertVictorOps script compiles verbatim; payloads render") {
    // streamer_test.go:10258-10330. Service config (URL, api key, routing
    // keys) is transport-side; the two chained .victorOps() handlers render
    // the same body. Times are replay-rebased (the reference's 31536010 is
    // the same window boundary on the un-rebased clock) and data is the
    // caller's pre-rendered Result JSON ({} here).
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.id('kapacitor/{{ .Name }}/{{ index .Tags "host" }}')
        |		.info(lambda: "count" > 6.0)
        |		.warn(lambda: "count" > 7.0)
        |		.crit(lambda: "count" > 8.0)
        |		.victorOps()
        |			.routingKey('test_key')
        |		.victorOps()
        |			.routingKey('test_key2')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    val crit = out.filter($"level" === 3).orderBy("bucket_s").head
    assert(crit.getAs[String]("id") == "kapacitor/cpu/serverA")
    // data = the triggering batch's marshaled Result (the reference's
    // TestStream_AlertVictorOps_JSON_Data series shape: name/tags/columns/
    // values with the window count; Go ints render bare)
    val data =
      """{\"series\":[{\"name\":\"cpu\",\"tags\":{\"host\":\"serverA\"},""" +
      """\"columns\":[\"time\",\"count\"],""" +
      """\"values\":[[\"1970-01-01T00:00:00Z\",10]]}]}"""
    val expected =
      s"""{"data":"$data","entity_id":"kapacitor/cpu/serverA",""" +
      """"message_type":"CRITICAL","monitoring_tool":"kapacitor",""" +
      """"state_message":"kapacitor/cpu/serverA is CRITICAL","timestamp":0}"""
    assert(crit.getAs[String]("payload_victorOps") == expected)
    assert(crit.getAs[String]("payload_victorOps_2") == expected)
  }

  test("the reference TestStream_AlertTelegram script compiles verbatim; chat ids split") {
    // streamer_test.go:8987-9059. Config-level defaults (the service's
    // disable-web-page-preview) are transport-side; the rendered bodies
    // carry exactly what each script handler declares.
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.id('kapacitor/{{ .Name }}/{{ index .Tags "host" }}')
        |		.info(lambda: "count" > 6.0)
        |		.warn(lambda: "count" > 7.0)
        |		.crit(lambda: "count" > 8.0)
        |		.telegram()
        |			.chatId('12345678')
        |				.disableNotification()
        |				.parseMode('HTML')
        |		.telegram()
        |			.chatId('87654321')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    val crit = out.filter($"level" === 3).orderBy("bucket_s").head
    assert(crit.getAs[String]("payload_telegram") ==
      """{"chat_id":"12345678","disable_notification":true,"parse_mode":"HTML",""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL"}""")
    assert(crit.getAs[String]("payload_telegram_2") ==
      """{"chat_id":"87654321","text":"kapacitor/cpu/serverA is CRITICAL"}""")
  }

  test("the reference TestStream_AlertTeams script compiles verbatim; card bytes match") {
    // streamer_test.go:10458-10530 — the card is config-independent, so
    // the bytes match the integration expectation exactly
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.id('kapacitor/{{ .Name }}/{{ index .Tags "host" }}')
        |		.info(lambda: "count" > 6.0)
        |		.warn(lambda: "count" > 7.0)
        |		.crit(lambda: "count" > 8.0)
        |		.teams()
        |		.teams()
        |			.channelURL('http://example.test/hook')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    val crit = out.filter($"level" === 3).orderBy("bucket_s").head
    val card =
      """{"@type":"MessageCard","@context":"http://schema.org/extensions",""" +
      """"title":"CRITICAL: [kapacitor/cpu/serverA]",""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL",""" +
      """"summary":"CRITICAL: [kapacitor/cpu/serverA] - kapacitor/cpu/serverA is CRITICAL...",""" +
      """"themeColor":"CC4A31"}"""
    assert(crit.getAs[String]("payload_teams") == card)
    assert(crit.getAs[String]("payload_teams_2") == card)
  }

  test("the reference inhibit/category script compiles verbatim (server_test.go:12688)") {
    val script =
      """stream
        |	|from()
        |		.measurement('region')
        |		.groupBy(*)
        |	|alert()
        |		.category('region_alert')
        |		.id('region')
        |		.message('region')
        |		.details('')
        |		.crit(lambda: "v")
        |		.inhibit('host_alert', 'region')
        |		.inhibit('system', 'region')
        |""".stripMargin
    val pts = Seq(
      ("region", ts(1), Map("region" -> "west"), true),
      ("region", ts(2), Map("region" -> "east"), false))
      .toDF("measurement", "time", "tags", "v")
    val out = TickScript.compile(script, pts)
    val r = out.filter($"level" === 3).head
    assert(r.getAs[String]("alert_category") == "region_alert")
    val inh = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("inhibits"))
    assert(inh.map(x => (x.getString(0), x.getSeq[String](1).toList)) ==
      Seq(("host_alert", List("region")), ("system", List("region"))))
    // and the metadata drives AlertTopics.applyInhibitors downstream
    assert(out.columns.contains("inhibits"))
  }


  test("the reference TestStream_LambdaNow script compiles verbatim (now()/unixNano)") {
    // streamer_test.go:11581-11627: ownerB's 2100 expiration is filtered
    val script =
      """stream
        |	|from()
        |		.measurement('account')
        |	|where(lambda: "expiration" < unixNano(now()))
        |	|groupBy('owner')
        |	|httpOut('TestStream_LambdaNow')
        |""".stripMargin
    val pts = srpl("TestStream_LambdaNow")
      .filter(col("measurement") === "account")
      .select(col("measurement"), col("time"), expr("tags['owner']").as("owner"),
        expr("fieldsInt['expiration']").as("expiration"))
    val out = TickScript.compile(script, pts)
      .select("owner").as[String].collect().toSet
    assert(out == Set("ownerA", "ownerC"))
  }

  test("the reference TestStream_EvalNow script compiles verbatim (year(now()))") {
    // streamer_test.go:11629-11656
    val script =
      """stream
        |	|from()
        |		.measurement('account')
        |	|eval(lambda: year(now()))
        |		.as('currentYear')
        |	|httpOut('TestStream_EvalNow')
        |""".stripMargin
    val pts = srpl("TestStream_LambdaNow")
      .filter(col("measurement") === "account")
      .select(col("measurement"), col("time"), expr("tags['owner']").as("owner"),
        expr("fieldsInt['expiration']").as("expiration"))
    val out = TickScript.compile(script, pts).select("currentYear")
      .as[Int].collect()
    assert(out.nonEmpty && out.forall(_ == java.time.Year.now.getValue))
  }

  test("the reference TestStream_EvalRand script compiles verbatim (seeded rand)") {
    // streamer_test.go:11658-11700. The reference reseeds its process mwc
    // rng for determinism; our per-partition generator is deterministic
    // too but a different stream — rand(0)/rand(1) are exact, the others
    // bounded (documented deviation).
    val script =
      """stream
        |	|from()
        |		.measurement('data')
        |	|eval(lambda: rand(0), lambda: rand(20), lambda: rand(1), lambda: rand())
        |		.as('rand0', 'rand20','rand1','rand')
        |	|httpOut('TestStream_EvalRand')
        |""".stripMargin
    val pts = srpl("TestStream_EvalRand")
      .filter(col("measurement") === "data")
      .select(col("measurement"), col("time"), expr("tags['owner']").as("owner"),
        expr("fieldsInt['value']").as("value"))
    val r = TickScript.compile(script, pts)
      .select("rand0", "rand20", "rand1", "rand").head
    assert(r.getLong(0) == 0L && r.getLong(2) == 0L)
    assert(r.getLong(1) >= 0L && r.getLong(1) < 20L)
    assert(r.getLong(3) >= 0L)
  }


  test("the reference TestStream_ShiftBatch script compiles verbatim (windowed shift join)") {
    // streamer_test.go:2501-2552: past windows shifted forward join the
    // current ones; diff of counts at t=10 is 5-4=1
    val script =
      """var period  = 5s
        |
        |var data  = stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |
        |var past = data
        |	|window()
        |		.period(period)
        |		.every(period)
        |		.align()
        |	|shift(period)
        |	|count('value')
        |
        |var current = data
        |	|window()
        |		.period(period)
        |		.every(period)
        |		.align()
        |	|count('value')
        |
        |past
        |	|join(current)
        |		.as('past', 'current')
        |	|eval(lambda: "current.count" - "past.count")
        |		.keep()
        |		.as('diff')
        |	|httpOut('TestStream_Shift')
        |""".stripMargin
    val pts = srpl("TestStream_Shift")
      .filter(col("measurement") === "cpu")
      .select(col("measurement"), col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    // our tumbling buckets are START-labeled; the reference emits the same
    // window END-labeled (its t=10 row IS this bucket_s=5 one)
    val out = TickScript.compile(script, pts)
      .filter(col("bucket_s") === 5)
      .select(col("`current.count`"), col("diff"), col("`past.count`"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((5L, 1L, 4L)))
  }

  test("the reference TestStream_ShiftBatchNegative script compiles verbatim") {
    // streamer_test.go:2605-2660: current shifted BACK joins the past
    // window; same diff at t=5
    val script =
      """var period  = 5s
        |
        |var data  = stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |
        |var past = data
        |	|window()
        |		.period(period)
        |		.every(period)
        |		.align()
        |	|count('value')
        |
        |var current = data
        |	|window()
        |		.period(period)
        |		.every(period)
        |		.align()
        |	|shift(-period)
        |	|count('value')
        |
        |past
        |	|join(current)
        |		.as('past', 'current')
        |	|eval(lambda: "current.count" - "past.count")
        |		.keep()
        |		.as('diff')
        |	|httpOut('TestStream_Shift')
        |""".stripMargin
    val pts = srpl("TestStream_Shift")
      .filter(col("measurement") === "cpu")
      .select(col("measurement"), col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    // START-labeled buckets again: the reference's t=5 row is bucket_s=0
    val out = TickScript.compile(script, pts)
      .filter(col("bucket_s") === 0)
      .select(col("`current.count`"), col("diff"), col("`past.count`"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((5L, 1L, 4L)))
  }

  test("the reference VarWhereString/VarWhereRegex scripts compile verbatim") {
    // streamer_test.go:4147-4209: a script var (string and /regex/ literal)
    // referenced inside the where lambda
    def run(header: String, cmp: String): Long = {
      val script =
        s"""$header
           |stream
           |	|from()
           |		.measurement('cpu')
           |		.where(lambda: "host" $cmp )
           |	|window()
           |		.period(10s)
           |		.every(10s)
           |	|count('value')
           |	|httpOut('TestStream_SimpleMR')
           |""".stripMargin
      val pts = srpl("TestStream_SimpleMR")
        .filter(col("measurement") === "cpu")
        .select(col("measurement"), col("time"), expr("tags['host']").as("host"),
          expr("fieldsFloat['value']").as("value"))
      TickScript.compile(script, pts)
        .filter(col("bucket_s") === 0).select("count").as[Long].head()
    }
    assert(run("var serverStr = 'serverA'", "== serverStr") == 10L)
    assert(run("var serverPattern = /^serverA$/", "=~ serverPattern") == 10L)
  }


  test("the reference TestStream_JoinOnGap script compiles verbatim (dims gap join)") {
    // streamer_test.go:5370-5470: per-(dc,service,rack) sums join the
    // global per-service sums on('service'); the finer tags ride through
    val script =
      """var errorsByServiceDCRack = stream
        |	|from()
        |		.measurement('errors')
        |		.groupBy('dc', 'service', 'rack')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |		.align()
        |	|sum('value')
        |
        |var errorsByServiceGlobal = stream
        |	|from()
        |		.measurement('errors')
        |		.groupBy('service')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |		.align()
        |	|sum('value')
        |
        |errorsByServiceGlobal
        |	|join(errorsByServiceDCRack)
        |		.as('service', 'loc')
        |		.on('service')
        |		.streamName('loc_error_percent')
        |	|eval(lambda: "loc.sum" / "service.sum")
        |		.keep()
        |		.as('value')
        |	|httpOut('TestStream_JoinOn')
        |""".stripMargin
    val pts = srpl("TestStream_JoinOn")
      .filter(col("measurement") === "errors")
      .select(col("measurement"), col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"), expr("tags['rack']").as("rack"),
        expr("fieldsFloat['value']").as("value"))
    val out = TickScript.compile(script, pts)
      .filter(col("bucket_s") === 0 && col("service") === "cartA")
      .orderBy("dc", "rack")
      .select(col("dc"), col("rack"), col("`loc.sum`"), col("`service.sum`"),
        col("value"))
      .as[(String, String, Double, Double, Double)].collect().toSeq
    // reference er pins (dc=A, rack=0): 10/47 at the [0,10) window
    assert(out.nonEmpty)
    val a0 = out.find(r => r._1 == "A" && r._2 == "0").get
    assert(a0 == (("A", "0", 10.0, 47.0, 10.0 / 47.0)))
    // every row shares the same global denominator
    assert(out.forall(_._4 == 47.0))
  }

  test("opsGenie2 renders the note-only recovery body on OK-level events") {
    // TestStream_AlertOpsGenie2_Recovery semantics (services/opsgenie2/
    // service.go:156-176): level OK → note-only payload (the close action
    // rides in the URL, not the body)
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.crit(lambda: "count" > 8.0)
        |		.opsGenie2()
        |			.teams('rocket')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    val ok = out.filter($"level" === 0).head
    assert(ok.getAs[String]("payload_opsGenie2") ==
      s"""{"note":"${ok.getAs[String]("message")}"}""")
    val crit = out.filter($"level" === 3).head
    assert(crit.getAs[String]("payload_opsGenie2").contains(""""priority":"P1""""))
    assert(crit.getAs[String]("payload_opsGenie2").contains(
      """"responders":[{"name":"rocket","type":"team"}]"""))
  }

  test("pagerDuty2 serviceKey overrides the routing key per handler (ServiceKey test)") {
    // TestStream_AlertPagerDuty2_ServiceKey (streamer_test.go:10040-10073):
    // two chained .pagerDuty2() handlers — the first uses the service
    // default routing key, the second overrides it via the
    // backwards-compatible .serviceKey() setter (pipeline/alert.go:1144-48)
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.id('kapacitor/{{ .Name }}/{{ index .Tags "host" }}')
        |		.message('{{ .Level }} alert for {{ .ID }}')
        |		.info(lambda: "count" > 6.0)
        |		.warn(lambda: "count" > 7.0)
        |		.crit(lambda: "count" > 8.0)
        |		.pagerDuty2()
        |		.pagerDuty2()
        |		    .serviceKey('test_override_key')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    val crit = out.filter($"level" === 3).head
    val p1 = crit.getAs[String]("payload_pagerDuty2")
    val p2 = crit.getAs[String]("payload_pagerDuty2_2")
    assert(p1.contains(""""routing_key":"routing_key""""))
    assert(p2.contains(""""routing_key":"test_override_key""""))
    assert(p1.contains(""""event_action":"trigger"""") &&
      p1.contains(""""severity":"critical""""))
    assert(p1.contains(""""dedup_key":"kapacitor/cpu/serverA""""))
    // OK-level events resolve
    val ok = out.filter($"level" === 0).head
    assert(ok.getAs[String]("payload_pagerDuty2").contains(""""event_action":"resolve""""))
  }

  test("victorOps maps OK-level events to message_type RECOVERY") {
    // services/victorops/service.go:193-200: alert.OK → "RECOVERY"; every
    // other level passes its name through
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.id('kapacitor/{{ .Name }}/{{ index .Tags "host" }}')
        |		.crit(lambda: "count" > 8.0)
        |		.victorOps()
        |			.routingKey('test_key')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    val ok = out.filter($"level" === 0).head
    assert(ok.getAs[String]("payload_victorOps").contains(""""message_type":"RECOVERY""""))
    val crit = out.filter($"level" === 3).head
    assert(crit.getAs[String]("payload_victorOps").contains(""""message_type":"CRITICAL""""))
  }

  test("default alert id is {{ .Name }}:{{ .Group }}; Group binds in templates") {
    // pipeline/alert.go:18 (default id template) + alert.go:1349-1357 (the
    // nil group renders "nil"; a grouped stream renders sorted k=v pairs)
    val grouped =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.crit(lambda: "count" > 8.0)
        |""".stripMargin
    val g = TickScript.compile(grouped, alertFixture)
      .filter($"host" === "serverA").head
    assert(g.getAs[String]("id") == "cpu:host=serverA")
    val ungrouped = grouped.replace("\t\t.groupBy('host')\n", "")
    val u = TickScript.compile(ungrouped, alertFixture).head
    assert(u.getAs[String]("id") == "cpu:nil")
    val explicit = grouped.replace(".crit(",
      ".id('{{ .Group }}@{{ .Name }}')\n\t\t.crit(")
    val e = TickScript.compile(explicit, alertFixture)
      .filter($"host" === "serverA").head
    assert(e.getAs[String]("id") == "host=serverA@cpu")
  }

  test("combine().max(n) stays the pair cap; noOp compiles; query WHERE rejects OR") {
    // review findings: 'max' must not open an aggregation node as a
    // combine sub-prop; noOp is the reference spelling; a WHERE
    // disjunction would silently AND if accepted
    val combineScript =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|combine(lambda: TRUE, lambda: TRUE)
        |		.as('a', 'b')
        |		.tolerance(10s)
        |		.max(100)
        |	|noOp()
        |""".stripMargin
    // only out.columns is read (analysis, no data); the OR is refused at definition
    val src = alertShaped.withColumn("pid", monotonically_increasing_id())
    val out = TickScript.compile(combineScript, src, idCol = Some("pid"))
    assert(out.columns.contains("a.value") && out.columns.contains("b.value"))
    val orScript =
      """batch
        |	|query('''SELECT mean(value) FROM "db"."rp".cpu WHERE host = 'a' OR host = 'b' ''')
        |		.period(10s)
        |		.every(10s)
        |""".stripMargin
    val e = intercept[IllegalArgumentException](TickScript.compile(orScript, alertShaped))
    assert(e.getMessage.contains("AND-ed"))
  }

  test("query SELECT supports multiple aggregates with InfluxDB alias suffixing") {
    // SELECT mean(f), max(f) AS mx, mean(f): default aliases repeat per
    // InfluxDB's mean, mean_1 rule; every aggregate computes (the old
    // findFirstMatchIn silently kept only the first)
    val script =
      """batch
        |	|query('''SELECT mean(value), max(value) AS mx, mean(value) FROM "db"."rp".cpu''')
        |		.period(10s)
        |		.every(10s)
        |		.groupBy(time(10s), 'host')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    assert(out.columns.contains("mean") && out.columns.contains("mx") &&
      out.columns.contains("mean_1"))
    val r = out.filter($"host" === "serverA" && $"bucket_s" === 0).head
    assert(r.getAs[Double]("mean") == r.getAs[Double]("mean_1"))
    assert(r.getAs[Double]("mx") >= r.getAs[Double]("mean"))
    // unrecognized residue in the SELECT list refuses loudly
    val bad =
      """batch
        |	|query('''SELECT mean(value), value FROM "db"."rp".cpu''')
        |		.period(10s)
        |		.every(10s)
        |""".stripMargin
    val e = intercept[IllegalArgumentException](TickScript.compile(bad, alertFixture))
    assert(e.getMessage.contains("unsupported SELECT term"))
  }

  test("template var arithmetic honors precedence, int division, and overrides") {
    // review findings: `75 + 10 * 2` is 95 not 170; Long/Long divides like
    // Go; a templateVars override of a referenced var re-evaluates the
    // dependent default
    val script =
      """var base = 10
        |var prec = 75 + 10 * 2
        |var ratio = 7 / 2
        |var crit = base * 2
        |stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.crit(lambda: "count" > crit)
        |		.warn(lambda: "count" > prec)
        |		.info(lambda: "count" > ratio)
        |""".stripMargin
    val dflt = TickScript.compile(script, alertFixture)
    // windows have 10 points; crit = 10*2 = 20 → not crit; ratio = 3 → info
    assert(dflt.filter($"level" === 3).count() == 0)
    assert(dflt.filter($"level" === 1).count() > 0)
    val overridden = TickScript.compile(script, alertFixture,
      templateVars = Map("base" -> 4L))
    // crit re-evaluates to 8 → counts of 10 now fire CRITICAL
    assert(overridden.filter($"level" === 3).count() > 0)
  }

  test("typed duration/bool vars: lambda substitution, literal props, declared coercion, d/d truncation") {
    import graft.tick.TickScript.{Call, Dur}
    // review findings on the Dur wrapper: a duration VAR in a lambda must
    // substitute at second scale like a duration literal; a duration in a
    // literal prop position (default().field) must not crash lit(); a
    // duration-declared template var bound with a plain number carries
    // duration-ness to UDF options; `var b = TRUE` parses; d/d divides
    // like Go int64 nanos (truncated)
    var seen: Seq[Call] = null
    val cap: (org.apache.spark.sql.DataFrame, Seq[Call]) => org.apache.spark.sql.DataFrame =
      (df, props) => { seen = props; df }
    val script =
      """var every duration
        |var p = 10s
        |var flag = TRUE
        |var ratio = 90s / 60s
        |stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|default()
        |		.field('timeout', 5s)
        |	|where(lambda: "value" >= p - 10.0 + ratio - 1.0)
        |	@agent()
        |		.every(every)
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture,
      templateVars = Map("every" -> 60.0), udfs = Map("agent" -> cap))
    // declared-duration coercion: the plain 60.0 binding became a Dur
    assert(seen.map(c => c.name -> c.args) === Seq("every" -> Seq(Dur(60.0))))
    assert(TickScript.defaultUdfOptions(seen) ===
      Seq("every" -> Seq(graft.sources.UdfProto.OptDuration(60000000000L))))
    // 90s/60s truncates to 1 (Go int64-nanos division), so the where
    // lambda is value >= 10 - 10 + 1 - 1 = 0: everything passes, and the
    // default'd duration field landed as its second count
    assert(out.filter($"timeout" === 5.0).count() == out.count() && out.count() > 0)
  }

  test("var aliases of lambdas resolve; constant lambdas fold; WHERE range comparisons refuse") {
    // review round 2: `var crit_l = base` (lambda alias) must substitute;
    // `lambda: 60*5` folds to a constant that still compiles in lambda
    // position; an unsupported WHERE range must not silently drop
    val script =
      """var base = lambda: "count" > 8.0
        |var crit_l = base
        |var always = lambda: 1 + 1
        |stream
        |	|from()
        |		.measurement('cpu')
        |		.groupBy('host')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|alert()
        |		.crit(crit_l)
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    assert(out.filter($"level" === 3).count() > 0)
    val rangeScript =
      """batch
        |	|query('''SELECT mean(value) FROM "db"."rp".cpu WHERE "value" < 10''')
        |		.period(10s)
        |		.every(10s)
        |""".stripMargin
    val e = intercept[IllegalArgumentException](TickScript.compile(rangeScript, alertFixture))
    assert(e.getMessage.contains("AND-ed"))
    // the reference's own batch-test WHERE shape — multi-line, equality
    // AND inequality — compiles and filters (batcher_test.go AlertMessage)
    val tq = "'" * 3
    val refWhere =
      s"""batch
         |	|query($tq
         |		SELECT mean("value")
         |		FROM "telegraf"."default".cpu
         |		WHERE "host" = 'serverA' AND "host" != 'serverC'
         |$tq)
         |		.period(10s)
         |		.every(10s)
         |		.groupBy(time(2s), 'host')
         |""".stripMargin
    val filtered = TickScript.compile(refWhere, alertFixture)
    assert(filtered.select("host").distinct().as[String].collect().toSeq == Seq("serverA"))
    // quoted values containing OR must NOT trip the guard
    val quotedOr =
      """batch
        |	|query('''SELECT mean(value) FROM "db"."rp".cpu WHERE state = 'on or off' ''')
        |		.period(10s)
        |		.every(10s)
        |""".stripMargin
    assert(TickScript.compile(quotedOr,
      alertFixture.withColumn("state", lit("x"))).columns.nonEmpty)
  }

  test("kapacitorLoopback into a subscribed dbrp is refused (PreventLoop)") {
    // streamer_test.go TestStream_KapacitorLoopback_PreventLoop: a task
    // whose loopback writes the dbrp it subscribes to must fail to define
    val loop =
      """dbrp "dbname"."rpname"
        |
        |stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |	|kapacitorLoopback()
        |		.database('dbname')
        |		.retentionPolicy('rpname')
        |""".stripMargin
    // the loop is refused at definition, and the allowed task's check reads only columns
    val e = intercept[IllegalArgumentException](
      TickScript.compile(loop, alertShaped))
    assert(e.getMessage.contains("loop"))
    // a loopback into a DIFFERENT dbrp is fine
    val ok = loop.replace(".database('dbname')", ".database('otherdb')")
    assert(TickScript.compile(ok, alertShaped).columns.nonEmpty)
  }

  test("regex literals lex through backslash-escaped slashes") {
    // tick/ast/lex.go regex scanning honors \/ — the pattern /a\/b/ is one
    // literal matching "a/b", not a truncated /a\/
    val toks = TickScript.lex("""var p = /^serverA\/disk[0-9]+$/""")
    assert(toks.contains(TickScript.TStr("^serverA/disk[0-9]+$")))
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" =~ /^server[AB]\/?$/)
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |""".stripMargin
    val out = TickScript.compile(script, alertFixture)
    assert(out.count() > 0) // serverA matches the optional-slash pattern
  }


  test("queryFlux ships Spark SQL with the schedule as a joinable __windows view") {
    val src = (0 until 120).map(i => ("m", ts(i), i.toDouble))
      .toDF("measurement", "time", "value")
    val script =
      """batch
        ||queryFlux('''
        |SELECT w.tick_us, count(*) AS cnt, sum(s.value) AS sv
        |FROM __windows w JOIN __source s
        |  ON s.time_us >= w.start_us AND s.time_us < w.stop_us
        |GROUP BY w.tick_us ORDER BY w.tick_us
        |''')
        |    .period(60s)
        |    .every(60s)
        |    .align()
        |""".stripMargin
    val out = TickScript.compile(script, src)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out === Array(
      (60000000L, 60L, 1770.0),
      (120000000L, 60L, 5370.0)))
  }

  test("queryFlux validates statement shape and schedule at definition") {
    val src = Seq(("m", ts(0), 1.0)).toDF("measurement", "time", "value")
    val e1 = intercept[IllegalArgumentException] {
      TickScript.compile("batch\n|queryFlux('DROP TABLE x').period(60s).every(60s)\n", src)
    }
    assert(e1.getMessage.contains("not a select statement"))
    val e2 = intercept[IllegalArgumentException] {
      TickScript.compile("batch\n|queryFlux('SELECT 1').cron('* * * * *')\n", src)
    }
    assert(e2.getMessage.contains("requires .period"))
    val e3 = intercept[IllegalArgumentException] {
      TickScript.compile(
        "batch\n|queryFlux('SELECT 1').period(60s).every(60s).cron('* * * * *')\n", src)
    }
    assert(e3.getMessage.contains("mutually exclusive"))
  }

  test("queryFlux: two compiles in one session keep distinct sources; views are dropped") {
    // the contract names are rewritten to per-compile unique views, so a
    // second compile cannot clobber the first's source — and neither
    // compile leaves catalog state behind
    val srcA = (0 until 60).map(i => ("a", ts(i), 1.0)).toDF("measurement", "time", "value")
    val srcB = (0 until 60).map(i => ("b", ts(i), 10.0)).toDF("measurement", "time", "value")
    val script =
      """batch
        ||queryFlux('''
        |SELECT w.tick_us, sum(s.value) AS sv
        |FROM __windows w JOIN __source s
        |  ON s.time_us >= w.start_us AND s.time_us < w.stop_us
        |GROUP BY w.tick_us ORDER BY w.tick_us
        |''')
        |    .period(60s)
        |    .every(60s)
        |    .align()
        |""".stripMargin
    val outA = TickScript.compile(script, srcA)
    val outB = TickScript.compile(script, srcB) // would clobber fixed views
    assert(outA.collect().map(r => (r.getLong(0), r.getDouble(1))) ===
      Array((60000000L, 60.0)))
    assert(outB.collect().map(r => (r.getLong(0), r.getDouble(1))) ===
      Array((60000000L, 600.0)))
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_flux_")), "queryFlux leaked temp views")
  }

  test("queryFlux refuses a streaming source with the actual reason") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, Double)]
    val streamDf = ms.toDS().toDF("measurement", "time", "value")
    val e = intercept[IllegalArgumentException] {
      TickScript.compile(
        "batch\n|queryFlux('SELECT * FROM __source').period(60s).every(60s)\n",
        streamDf)
    }
    assert(e.getMessage.contains("cannot run on a streaming frame"))
  }

  test("queryFlux over an empty source compiles to an empty frame with the query schema") {
    // reference behavior: an empty range schedules zero batches — not a
    // compile error (pipeline/batch.go loops over zero ticks)
    val src = Seq.empty[(String, java.sql.Timestamp, Double)]
      .toDF("measurement", "time", "value")
    val out = TickScript.compile(
      """batch
        ||queryFlux('''
        |SELECT w.tick_us, count(*) AS cnt
        |FROM __windows w JOIN __source s
        |  ON s.time_us >= w.start_us AND s.time_us < w.stop_us
        |GROUP BY w.tick_us
        |''')
        |    .period(60s)
        |    .every(60s)
        |""".stripMargin, src)
    assert(out.columns === Array("tick_us", "cnt"))
    assert(out.count() === 0)
  }

  test("GOLDEN TestBatch_FluxQuery: queryFlux schedules and passes the engine result through") {
    // integrations/batcher_test.go TestBatch_Flux: the reference ships the
    // flux text to a MOCKED engine that answers with the .0.brpl contents;
    // expected output = that batch verbatim (yea/nay at relative seconds
    // 0,2,4,5,6,8 under the "should we orange juice" vote tag). Here the
    // engine is Catalyst, so the shipped text is Spark SQL over __source.
    val b = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata("TestBatch_FluxQuery.0.brpl"))
    val src = b.select(col("name").as("measurement"), col("time"),
      element_at(col("fields"), "value").as("value"),
      element_at(col("tags"), "vote").as("vote"))
    val script =
      """batch
        ||queryFlux('SELECT vote, value, time_us FROM __source ORDER BY time_us')
        |    .every(1s)
        |""".stripMargin
    val out = TickScript.compile(script, src).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val base = out.head._3
    assert(out.map(t => (t._2, (t._3 - base) / 1000000L)) === Array(
      ("yea", 0L), ("nay", 2L), ("yea", 4L), ("yea", 5L), ("nay", 6L), ("yea", 8L)))
    assert(out.forall(_._1 == "should we orange juice"))
  }
}
