package graft

import graft.api.Pipe
import graft.operators.WindowFSM
import graft.streaming.AlertStream
import org.apache.spark.sql.functions._

/** Golden-replay batch 4 — the tail of the semantically-meaty fixture
  * diff: stream stateCount, groupBy(*) after a window, httpOut
  * pass-through, combine-all triples, batch stateDuration, and the batch
  * alert rendering corners (messageField with the Name:Group default id,
  * durationField across batches, level/id tags). */
class GoldenReplaySpec4 extends SparkSpec {
  import spark.implicits._

  private def srplRebased(name: String) = {
    val df = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata(s"$name.srpl"))
    val mn = df.agg(min("ts_ns")).head.getLong(0)
    df.withColumn("time", timestamp_seconds(col("ts_ns") - mn))
  }

  private def brplRebased(name: String) = {
    val df = graft.sources.Replay.readBrpl(spark,
      RefFixtures.testdata(s"$name.brpl"))
    val mn = df.agg(min(unix_micros(col("time")))).head.getLong(0)
    df.withColumn("time", timestamp_micros(unix_micros(col("time")) - mn))
  }

  test("TestStream_KapacitorLoopback golden: task A's loopback feeds task B's stream") {
    // streamer_test.go:12007-12126 (positive path; PreventLoop's refusal is
    // TickScriptSpec:1188): task A subscribes dbname.rpname and loops cpu
    // into new-dbname.new-rpname; task B subscribes ONLY the new dbrp and
    // counts a 10s window. er: count=4 at t=10 — the replay rebases the
    // first point to t=0 and the unaligned window anchors there
    // (window.go:122 nextEmit = first+every), so the t=10 emission covers
    // [0,10) = the rebased points {0,1,2,9}.
    val raw = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata("TestStream_KapacitorLoopback.srpl"))
    val mn = raw.agg(min("ts_ns")).head.getLong(0)
    val src = raw.withColumn("time", timestamp_seconds(col("ts_ns") - mn))
    val scriptLoop =
      """dbrp "dbname"."rpname"
        |
        |stream
        |    |from()
        |        .measurement('cpu')
        |    |kapacitorLoopback()
        |        .database('new-dbname')
        |        .retentionPolicy('new-rpname')
        |""".stripMargin
    // task A: the compiled frame IS what kapacitorLoopback re-injects,
    // restamped to the loopback's target dbrp (kapacitor_loopback.go:89-104)
    val aIn = src.filter(col("db") === "dbname" && col("rp") === "rpname")
    val aOut = graft.tick.TickScript.compile(scriptLoop, aIn)
    val dir = java.nio.file.Files.createTempDirectory("graft_loopback").toString
    graft.sources.Sinks.loopback(
      aOut.withColumn("db", lit("new-dbname")).withColumn("rp", lit("new-rpname")), dir)
    // task B: subscription routing — it sees ONLY the looped-back dbrp
    val bIn = spark.read.parquet(dir)
      .filter(col("db") === "new-dbname" && col("rp") === "new-rpname")
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    assert(bIn.count() == 7) // all 7 cpu points arrived through the loop
    val w = WindowFSM.windowByTime(bIn, "time", Nil, 10, 10)
    val emits = w.groupBy("wemit_us").agg(count("value").as("count"))
      .as[(Long, Long)].collect().toMap
    assert(emits == Map(10000000L -> 4L))
  }

  test("TestBatch_KapacitorLoopback golden: windowed batches flatten back to points through the loop") {
    // streamer_test.go:12136-12233: task A windows (5s,5s) before the
    // loopback — batches re-enter as their POINTS with original times
    // (kapacitor_loopback.go BatchPoint handling) — and task B's 10s count
    // still sees {0,1,2,9} → 4 at t=10, the same er as the stream variant.
    // A's emissions: trigger at t=9 flushes [0,5) = {0,1,2}; trigger at
    // t=15 flushes [9,14) = {9,10,11}; t=15 itself never flushes.
    val raw = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata("TestStream_KapacitorLoopback.srpl"))
    val mn = raw.agg(min("ts_ns")).head.getLong(0)
    val src = raw.withColumn("time", timestamp_seconds(col("ts_ns") - mn))
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val aWindows = WindowFSM.windowByTime(src, "time", Nil, 5, 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_loopback_b").toString
    // the loopback ships the batch's points, not the batch container —
    // drop the window bookkeeping, keep original times
    graft.sources.Sinks.loopback(
      aWindows.select(col("time"), col("value"))
        .withColumn("db", lit("new-dbname")).withColumn("rp", lit("new-rpname")), dir)
    val bIn = spark.read.parquet(dir)
      .filter(col("db") === "new-dbname" && col("rp") === "new-rpname")
      .select("time", "value")
    assert(bIn.count() == 6) // {0,1,2} + {9,10,11}; 15 never flushed
    val w = WindowFSM.windowByTime(bIn, "time", Nil, 10, 10)
    val emits = w.groupBy("wemit_us").agg(count("value").as("count"))
      .as[(Long, Long)].collect().toMap
    assert(emits == Map(10000000L -> 4L))
  }

  test("TestStream_StateCount golden: run counter with -1 resets, field-less points skipped") {
    // stateCount(value > 95).as('my_count') over the stream fixture
    // (streamer_test.go TestStream_StateCount): serverA 1,2,-1,1;
    // serverB -1,1,(skip: no value),2 — the t=2 serverB point carries
    // field x only and is skipped entirely (state_tracking.go missing-field
    // path), so the run CONTINUES across it
    val pts = srplRebased("TestStream_StateTracking")
      .filter(col("measurement") === "cpu")
      .select(col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
      .filter(col("value").isNotNull)
    val p = Pipe(pts, "time", Seq("host"))
      .stateCount(col("value") > 95, as = "my_count")
    val out = p.df.filter(unix_timestamp(col("time")) < 4)
      .orderBy("host", "time")
      .select(col("host"), unix_timestamp(col("time")).as("t"),
        col("my_count"), col("value"))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("serverA", 0L, 1L, 97.1), ("serverA", 1L, 2L, 96.6),
      ("serverA", 2L, -1L, 83.6), ("serverA", 3L, 1L, 99.1),
      ("serverB", 0L, -1L, 47.0), ("serverB", 1L, 1L, 95.1),
      ("serverB", 3L, 2L, 96.1)))
  }

  test("TestStream_BatchGroupByAll golden: groupBy(*) after a window regroups by all tags") {
    // window(5s,5s) |groupBy(*) |count: (serverA,idle) 5, (serverB,idle) 5,
    // (serverC,idle) 1 at t=5 (streamer_test.go TestStream_BatchGroupByAll)
    val pts = srplRebased("TestStream_BatchGroupBy")
      .filter(col("measurement") === "cpu")
      .select(col("time"), col("tags"), expr("fieldsFloat['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 5, 5)
    // the regroup node buffers each batch's groups until the NEXT
    // BeginBatch flushes them (group_by.go:76-167) — the final window
    // batch is never flushed, so the visible result is the first window
    val emits = w.select("wemit_us").distinct().orderBy("wemit_us").as[Long].collect().toSeq
    assert(emits == Seq(5000000L, 10000000L))
    val p = Pipe(w.filter(col("wemit_us") === emits.head), "time", Nil).groupByStar()
    val counts = p.df.groupBy("group_id").agg(count(lit(1)).as("count"))
      .orderBy("group_id")
      .as[(String, Long)].collect().toSeq
    assert(counts == Seq(
      ("host=serverA,type=idle", 5L),
      ("host=serverB,type=idle", 5L),
      ("host=serverC,type=idle", 1L)))
  }

  test("TestStream_HttpOutPassThrough golden: a tap does not consume the stream") {
    // |httpOut('unused') |httpOut('TestStream_SimpleMR') — the first tap
    // passes every point through unchanged (http_out.go is a pure observer)
    val pts = srplRebased("TestStream_SimpleMR")
      .filter(col("measurement") === "cpu")
      .select(col("measurement"), col("time"), expr("tags['host']").as("host"),
        expr("fieldsFloat['value']").as("value"))
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|httpOut('unused')
        |	|httpOut('TestStream_SimpleMR')
        |""".stripMargin
    val out = graft.tick.TickScript.compile(script, pts)
      .filter(col("bucket_s") === 0)
      .select(col("bucket_s"), col("count")).as[(Long, Long)].collect().toSeq
    assert(out == Seq(0L -> 10L))
  }

  test("TestStream_Combine_All_Triples golden: three TRUE predicates, ordered triples") {
    // combine(TRUE,TRUE,TRUE).tolerance(1s): only the t=0 bucket has all
    // three services per dc — sums 2100 (A), 2250 (B)
    // (streamer_test.go TestStream_Combine_All_Triples)
    val pts = srplRebased("TestStream_Combine")
      .filter(col("measurement") === "request_latency")
      .select(col("time"), expr("tags['dc']").as("dc"),
        expr("tags['service']").as("service"),
        expr("fieldsFloat['value']").as("value"))
      // arrival order within a timestamp is the fixture's line order —
      // auth, log, cart per (dc, t); encode it as the ordering id
      .withColumn("pid", unix_timestamp(col("time")) * 10 +
        when(col("service") === "auth", 0)
          .when(col("service") === "log", 1).otherwise(2))
    val p = Pipe(pts, "time", Seq("dc"), idCol = Some("pid"))
    val t = lit(true)
    val all = p.combineK(Seq(t, t, t), 1, Seq("first", "second", "third"))
      .withColumn("sum", col("first_value") + col("second_value") + col("third_value"))
      .filter(col("first_service") === "auth" && col("second_service") === "log" &&
        col("third_service") === "cart")
    // the combine buffer closes when a NEWER rounded time arrives
    // (combine.go combineBuffer) — the stream ends inside the last bucket,
    // so only buckets strictly before it are visible
    val maxB = all.agg(max("bucket_s")).head.getLong(0)
    val out = all.filter(col("bucket_s") < maxB)
      .select(col("dc"), col("bucket_s"), col("sum"))
      .orderBy("dc")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("A", 0L, 2100.0), ("B", 0L, 2250.0)))
  }

  test("TestBatch_StateDuration golden: per-batch duration runs in ms units") {
    // stateDuration(value>95).unit(1ms) restarts per batch
    // (batcher_test.go TestBatch_StateDuration): second batch serverA
    // 0, 1000, -1, 0; serverB -1, 0, 2000 (field-less point skipped)
    val b = brplRebased("TestBatch_StateTracking.0")
      .select(col("batch_idx"), expr("tags['host']").as("host"), col("time"),
        expr("CAST(fields['value'] AS DOUBLE)").as("value"))
      .filter(col("value").isNotNull)
    val p = Pipe(b, "time", Seq("host", "batch_idx"))
      .stateDuration(col("value") > 95, as = "my_duration", unitSeconds = 0.001)
    val lastIdx = b.groupBy("host").agg(max("batch_idx").as("batch_idx"))
    val t0 = b.agg(min(unix_timestamp(col("time")))).head.getLong(0)
    val out = p.df.join(lastIdx, Seq("host", "batch_idx"))
      .select(col("host"), (unix_timestamp(col("time")) - t0).as("t"),
        col("my_duration"), col("value"))
      .orderBy("host", "t")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("serverA", 4L, 0.0, 97.1), ("serverA", 5L, 1000.0, 96.6),
      ("serverA", 6L, -1.0, 83.6), ("serverA", 7L, 0.0, 99.1),
      ("serverB", 4L, -1.0, 47.0), ("serverB", 5L, 0.0, 95.1),
      ("serverB", 7L, 2000.0, 96.1)))
  }

  // ---- batch alert rendering corners (batcher_test.go AlertMessage /
  // AlertDuration / AlertLevelTag over TestBatch_SimpleMR.0.brpl)

  private def simpleMr = brplRebased("TestBatch_SimpleMR.0")
    .select(col("batch_idx"), col("name"), expr("tags['cpu']").as("cpu"),
      col("time"), expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    .filter(col("cpu") =!= "cpu-total")

  test("TestBatch_AlertMessage golden: default message renders Name:Group is LEVEL") {
    // .crit(mean > 95).messageField('msg'): only cpu1 fires; msg =
    // "cpu_usage_idle:cpu=cpu1 is CRITICAL" — pins the {{ .Name }}:
    // {{ .Group }} default id (pipeline/alert.go:18, alert.go:1349-1357)
    val levels = simpleMr
      .withColumn("level", when(col("mean") > 95, 3).otherwise(0))
    val firing = levels.groupBy("name", "cpu", "batch_idx")
      .agg(max("level").as("batch_level"))
      .filter(col("batch_level") === 3)
      .select("name", "cpu").distinct()
      .as[(String, String)].collect().toSeq
    assert(firing == Seq(("cpu_usage_idle", "cpu1")))
    val msg = levels.filter(col("cpu") === "cpu1")
      .withColumn("id", concat(col("name"), lit(":cpu="), col("cpu")))
      .withColumn("msg", concat(col("id"), lit(" is "),
        element_at(typedlit(AlertStream.levelNames), greatest(col("level"), lit(0)) + 1)))
      .filter(col("level") === 3).select("msg").distinct()
      .as[String].collect().toSeq
    assert(msg == Seq("cpu_usage_idle:cpu=cpu1 is CRITICAL"))
  }

  test("TestBatch_AlertDuration golden: duration spans batches from the first trigger") {
    // .durationField('duration'): batch events at the first crit-level
    // point of each batch (t=6, 10, 20); the third batch's event carries
    // duration = 20-6 = 14s — the FSM's firstTriggered survives batches
    val levels = simpleMr.filter(col("cpu") === "cpu1")
      .withColumn("level", when(col("mean") > 95, 3).otherwise(0))
      .withColumn("tus", unix_micros(col("time")))
      .withColumn("batch_us", max(unix_micros(col("time"))).over(
        org.apache.spark.sql.expressions.Window.partitionBy("batch_idx")))
    val batchEvents = AlertStream.batchLevels(
      levels, col("cpu"), col("batch_us"),
      col("tus"), lit(0L), col("level"), all = false)
    // one level event per batch, at the first highest-level point
    val evs = AlertStream.runBatchLevels(
      batchEvents.select(col("group"), col("time_us").as("timeUs"), col("level"))
        .as[AlertStream.LevelPoint], AlertStream.AlertConfig())
      .collect().sortBy(_.timeUs)
    assert(evs.map(e => (e.timeUs / 1000000L, e.level, e.durationUs / 1000000L)).toSeq ==
      Seq((6L, 3, 0L), (10L, 3, 4L), (20L, 3, 14L)))
  }

  test("TestBatch_HttpPost golden: each batch posts its Result JSON") {
    // batcher_test.go TestBatch_HttpPost: request 1 is the cpu-total
    // batch's models.Result — name/tags/columns/values, time-first
    val b = brplRebased("TestBatch_HttpPost.0")
      .select(col("batch_idx"), expr("tags['cpu']").as("cpu"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    val first = b.filter(col("batch_idx") === 0 && col("cpu") === "cpu-total")
      .select("cpu", "time", "mean").orderBy("time")
    val json = graft.sources.ResultRenderer.httpOutJson(first, "cpu_usage_idle", Seq("cpu"))
    assert(json ==
      """{"series":[{"name":"cpu_usage_idle","tags":{"cpu":"cpu-total"},""" +
      """"columns":["time","mean"],"values":[""" +
      """["1970-01-01T00:00:00Z",90.38281469458698],""" +
      """["1970-01-01T00:00:02Z",86.51447101892941],""" +
      """["1970-01-01T00:00:04Z",91.71877558217454],""" +
      """["1970-01-01T00:00:06Z",87.10524436107617],""" +
      """["1970-01-01T00:00:08Z",90.3900735196668]]}]}""")
  }

  test("TestBatch_HttpPost_URL_Template golden: per-batch URL renders name and tags") {
    // batcher_test.go:3159-3262: '…/{{.Name}}?cpu={{ index .Tags "cpu" }}'
    // renders once per posted BATCH — the three first-emission groups post
    // to /cpu_usage_idle?cpu={cpu-total,cpu0,cpu1} (bodies are the Result
    // JSONs the TestBatch_HttpPost golden pins)
    val b = brplRebased("TestBatch_HttpPost.0")
      .select(col("batch_idx"), expr("tags['cpu']").as("cpu"), col("time"),
        expr("CAST(fields['mean'] AS DOUBLE)").as("mean"))
    // one .brpl doc = one emitted batch: docs 0-2 are the first emission's
    // three groups
    val batches = b.filter(col("batch_idx") <= 2)
      .groupBy("batch_idx", "cpu").agg(max("time").as("time"), avg("mean").as("mean"))
    val url = graft.sources.Sinks.rowTemplate(
      """/{{ .Name }}?cpu={{ index .Tags "cpu" }}""",
      name = lit("cpu_usage_idle"),
      tags = Map("cpu" -> col("cpu")),
      timeCol = col("time"),
      fields = Map("mean" -> col("mean")))
    val urls = batches.select(url).as[String].collect().toSet
    assert(urls == Set(
      "/cpu_usage_idle?cpu=cpu-total",
      "/cpu_usage_idle?cpu=cpu0",
      "/cpu_usage_idle?cpu=cpu1"))
  }

  test("TestBatch_AlertLevelTag golden: level and id promote to tags") {
    // .levelTag('level').idTag('id'): the firing series' tag set becomes
    // {cpu: cpu1, level: CRITICAL, id: cpu_usage_idle:cpu=cpu1}
    val levels = simpleMr.filter(col("cpu") === "cpu1")
      .withColumn("level", when(col("mean") > 95, 3).otherwise(0))
    val p = Pipe(levels, "time", Seq("cpu"))
      .eval(
        "level_name" -> element_at(typedlit(AlertStream.levelNames),
          greatest(col("level"), lit(0)) + 1),
        "id" -> concat(col("name"), lit(":cpu="), col("cpu")))
      .evalTags("level_name", "id")
    assert(p.dims == Seq("cpu", "level_name", "id"))
    val tags = p.df.filter(col("level") === 3)
      .select("cpu", "level_name", "id").distinct()
      .as[(String, String, String)].collect().toSeq
    assert(tags == Seq(("cpu1", "CRITICAL", "cpu_usage_idle:cpu=cpu1")))
  }

  test("TestStream_InfluxDBOut golden: windowed count writes m,key=value count=10i at t=10") {
    // streamer_test.go:12491-12580: window(10s,10s)|count('value')
    // |influxDBOut().database('db').retentionPolicy('rp').measurement('m')
    // .precision('s').tag('key','value') → ONE point lands: measurement m,
    // tags {key: value}, fields {count: 10i (int64!)}, time 10s — wire
    // bytes via the typed line-protocol renderer
    val pts = srplRebased("TestStream_InfluxDBOut")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(col("time"), expr("fieldsFloat['value']").as("value"))
    val w = WindowFSM.windowByTime(pts, "time", Nil, 10, 10)
    val counted = w.groupBy("wemit_us").agg(count("value").as("count"))
    val line = counted.select(
      graft.sources.Sinks.toLineProtocol(
        measurement = lit("m"),
        tags = Seq("key" -> lit("value")),
        fields = Seq("count" -> graft.sources.Sinks.lineFieldValue(counted, "count")),
        timeNs = (col("wemit_us") / 1000000L).cast("long"))) // precision 's'
      .as[String].collect().toSeq
    assert(line == Seq("m,key=value count=10i 10"))
    // the routing options compile from the verbatim script (db/rp/precision
    // travel as write-request params, not payload bytes)
    graft.tick.TickScript.compile(
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	|influxDBOut()
        |		.database('db')
        |		.retentionPolicy('rp')
        |		.measurement('m')
        |		.precision('s')
        |		.tag('key', 'value')
        |		.flushInterval(1ms)
        |""".stripMargin,
      srplRebased("TestStream_InfluxDBOut")
        .select(col("time"), col("measurement"),
          expr("tags['host']").as("host"),
          expr("fieldsFloat['value']").as("value")))
  }

  test("TestStream_HttpPostEndpoint golden: each point posts its single-row Result JSON") {
    // streamer_test.go:3542-3650: httpPost to a named endpoint posts ONE
    // models.Result per point; requests 1-6 are byte-pinned (values 97.1,
    // 92.6, 95.6, 93.1, 92.6, 95.8 at t=0..5, tags {host: serverA, type:
    // idle})
    val pts = srplRebased("TestStream_HttpPost")
      .filter(col("measurement") === "cpu" && expr("tags['host']") === "serverA")
      .select(expr("tags['host']").as("host"), expr("tags['type']").as("type"),
        col("time"), expr("fieldsFloat['value']").as("value"))
      .orderBy("time").limit(6)
    val rows = pts.collect()
    val expected = Seq(97.1, 92.6, 95.6, 93.1, 92.6, 95.8)
    rows.zipWithIndex.foreach { case (r, i) =>
      val one = spark.createDataFrame(java.util.List.of(r), pts.schema)
        .select("host", "type", "time", "value")
      val json = graft.sources.ResultRenderer.httpOutJson(one, "cpu", Seq("host", "type"))
      assert(json ==
        s"""{"series":[{"name":"cpu","tags":{"host":"serverA","type":"idle"},""" +
        s""""columns":["time","value"],"values":[""" +
        s"""["1970-01-01T00:00:0${i}Z",${expected(i)}]]}]}""")
    }
  }
}
