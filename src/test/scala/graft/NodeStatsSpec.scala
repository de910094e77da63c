package graft

import graft.api.Pipe
import graft.operators.NodeStats
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Node-stats introspection (reference stats.go:23-121): the batch tap
  * semantically pins three of the reference `*Cardinality` integration
  * tests (streamer_test.go:12844-12996) over the very fixture they replay
  * — TestStream_Cardinality.srpl, 90 cpu points across 9 (host,cpu)
  * groups — and the streaming listener bridge reports the same fields
  * from query progress. */
class NodeStatsSpec extends SparkSpec {
  import spark.implicits._

  // the reference replays .srpl at precision "s" (testStreamer) — the
  // recorded integer is SECONDS, not the line-protocol ns default
  private def source = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata("TestStream_Cardinality.srpl"))
    .select(timestamp_seconds(col("ts_ns")).as("time"), col("measurement"),
      expr("tags['host']").as("host"), expr("tags['cpu']").as("cpu"),
      expr("fieldsFloat['usage_user']").as("usage_user"),
      monotonically_increasing_id().as("id"))

  /** Compile the script with the stage tap; `windows` names the stages
    * whose OUTPUT edge is a batch edge, mapping stage name → (period s,
    * every s): their emission unit is the BATCH, counted by replaying the
    * golden-pinned window FSM over the stage's input (edge/stats.go counts
    * batch-edge messages, not points). */
  private def statsFor(script: String,
      windows: Map[String, (Long, Long)] = Map.empty): Map[String, (Long, Long, Long)] = {
    val stages = Seq.newBuilder[NodeStats.Stage]
    graft.tick.TickScript.compile(script, source, idCol = Some("id"),
      stageTap = Some((name, p) =>
      stages += NodeStats.Stage(name, p.df, p.dims,
        NodeStats.statefulNodes.contains(name.replaceAll("\\d+$","")))))
    val linear = stages.result()
    val withUnits = linear.zipWithIndex.map { case (s, i) =>
      windows.get(s.node) match {
        case Some((period, every)) if i > 0 =>
          val batches = graft.operators.WindowFSM.windowByTime(
              linear(i - 1).df, "time", s.dims, period, every, idCol = Some("id"))
            .select((s.dims :+ "wemit_us").map(col): _*).distinct()
          s.copy(unitDf = Some(batches))
        case _ => s
      }
    }
    NodeStats.stats(spark, withUnits)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("TestStream_DerivativeCardinality semantics: 9 groups held by derivative2") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |derivative('usage_user')
        |""".stripMargin)
    // es (streamer_test.go:12854-12877): stream0/from1 collect+emit all 90,
    // hold no state; derivative2 collects 90, emits 0 (terminal — no output
    // edge), works over 9 groups
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("derivative2") == ((90L, 0L, 9L)))
  }

  test("TestStream_WhereCardinality semantics: where2 holds per-group lambda state") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |where(lambda: "host" == 'localhost')
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("where2") == ((90L, 0L, 9L)))
  }

  test("TestStream_WindowCardinality semantics: window2 buffers 9 groups") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |window()
        |      .period(1s)
        |      .every(1s)
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("window2") == ((90L, 0L, 9L)))
  }

  test("TestStream_SampleCardinality semantics: sample2 counts per group") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |sample(2)
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("sample2") == ((90L, 0L, 9L)))
  }

  test("TestStream_EvalCardinality semantics: eval2 holds sigma state per group") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |eval(lambda: sigma("usage_user"))
        |      .as('sigma')
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("eval2") == ((90L, 0L, 9L)))
  }

  test("TestStream_AlertCardinality semantics: alert2 tracks 9 groups") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |alert()
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("alert2") == ((90L, 0L, 9L)))
  }

  test("TestStream_CombineCardinality semantics: combine2 buffers 9 groups") {
    val st = statsFor(
      """var s1 = stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('cpu','host')
        |    |combine(lambda: TRUE, lambda: TRUE)
        |        .as('total','true')
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("combine2")._1 == 90L && st("combine2")._2 == 0L && st("combine2")._3 == 9L)
  }

  test("TestStream_FlattenCardinality semantics: flatten2 buffers 9 groups") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |flatten()
        |     .on('host','cpu')
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("flatten2")._1 == 90L && st("flatten2")._2 == 0L && st("flatten2")._3 == 9L)
  }

  test("TestStream_HTTPOutCardinality semantics: http_out2 caches 9 groups") {
    // reference snake-cases the node name to http_out2; the graft stage
    // keeps the DSL spelling httpOut2 — same node, same stats
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |httpOut('usage_user')
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("httpOut2") == ((90L, 0L, 9L)))
  }

  test("TestStream_InfluxQLCardinalityStream semantics: max2 holds 9 reducers") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |max('usage_user')
        |      .as('max')
        |""".stripMargin)
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("max2") == ((90L, 0L, 9L)))
  }

  test("TestStream_InfluxQLCardinalityBatch semantics: window2 emits 81 BATCHES") {
    // the window's output is a batch edge: stats count batch messages —
    // 9 groups × 9 FSM emissions (points at t=1..10, first emit armed at
    // t_first+every: t=2..10), the trailing partial window held back
    // (streamer_test.go:13041-13076 expects window2 emitted=81)
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |window()
        |      .period(1s)
        |      .every(1s)
        |    |max('usage_user')
        |      .as('max')
        |""".stripMargin,
      windows = Map("window2" -> ((1L, 1L))))
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("window2") == ((90L, 81L, 9L)))
    assert(st("max3") == ((81L, 0L, 9L)))
  }

  test("TestStream_GroupByCardinality semantics: ungrouped window emits 9, groupBy re-dims to 9") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |    |window()
        |     .period(1s)
        |     .every(1s)
        |    |groupBy('cpu')
        |""".stripMargin,
      windows = Map("window2" -> ((1L, 1L))))
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    // one (ungrouped) window FSM — the nil group — emits 9 batches;
    // groupBy holds the 9 cpu groups (streamer_test.go:13379-13427)
    assert(st("window2") == ((90L, 9L, 1L)))
    // reference snake-cases to groupby3; graft keeps the DSL spelling
    assert(st("groupBy3") == ((9L, 0L, 9L)))
  }

  test("TestStream_MixedCardinality semantics: chained where/eval/derivative/alert stats") {
    val st = statsFor(
      """stream
        |    |from()
        |        .measurement('cpu')
        |        .groupBy('host','cpu')
        |    |where(lambda: "host" == 'localhost')
        |    |eval(lambda: sigma("usage_user"))
        |      .as('sigma')
        |    |where(lambda: "cpu" == 'cpu-total' OR "cpu" == 'cpu0' OR "cpu" == 'cpu1')
        |    |derivative('sigma')
        |    |alert()
        |""".stripMargin)
    // streamer_test.go:13455-13529: where4 narrows to 3 groups (30 rows),
    // derivative drops each group's first point (27), alert tracks 3 groups
    assert(st("stream0") == ((90L, 90L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("where2") == ((90L, 90L, 9L)))
    assert(st("eval3") == ((90L, 90L, 9L)))
    assert(st("where4") == ((90L, 30L, 9L)))
    assert(st("derivative5") == ((30L, 27L, 3L)))
    assert(st("alert6") == ((27L, 0L, 3L)))
  }

  test("TestStream_JoinCardinality semantics: fan-out emit, per-source group state") {
    // s2|join(s1): stream0 feeds TWO from consumers (emitted 180 of 90
    // collected); the join holds group state per SOURCE's dims — 1 host
    // group + 9 cpu groups = 10 (streamer_test.go:13365-13427). The DAG
    // (multi-parent, multi-consumer) is declared explicitly here — the
    // reference numbers the join node join4.
    val src = source
    val from1 = src.filter($"measurement" === "cpu")
    val from2 = src.filter($"measurement" === "cpu")
    val stages = Seq(
      NodeStats.Stage("stream0", src, Nil, stateful = false),
      NodeStats.Stage("from1", from1, Seq("host"), stateful = false, parents = Some(Seq(0))),
      NodeStats.Stage("from2", from2, Seq("cpu"), stateful = false, parents = Some(Seq(0))),
      NodeStats.Stage("join4", from1, Seq("host", "cpu"), stateful = true,
        parents = Some(Seq(1, 2))))
    val st = NodeStats.stats(spark, stages)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(st("stream0") == ((90L, 180L, 0L)))
    assert(st("from1") == ((90L, 90L, 0L)))
    assert(st("from2") == ((90L, 90L, 0L)))
    assert(st("join4") == ((180L, 0L, 10L)))
  }

  test("streaming listener bridge reports collected and state cardinality") {
    implicit val ctx = spark.sqlContext
    val listener = new NodeStats.StreamingStats
    spark.streams.addListener(listener)
    val ms = MemoryStream[(String, Double)]
    val q = ms.toDS().toDF("g", "v").groupBy("g").agg(sum("v").as("s"))
      .writeStream.format("memory").queryName("ns_probe")
      .outputMode("complete").start()
    try {
      ms.addData(Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)))
      q.processAllAvailable()
      // listener events are async — poll until the progress lands
      val deadline = System.currentTimeMillis + 15000
      var row = Option.empty[(Long, Long)]
      while (row.isEmpty && System.currentTimeMillis < deadline) {
        row = listener.frame(spark).filter($"query" === "ns_probe")
          .select("collected", "working_cardinality")
          .as[(Long, Long)].collect().headOption.filter(_._1 >= 3L)
        if (row.isEmpty) Thread.sleep(200)
      }
      assert(row.exists(r => r._1 == 3L && r._2 == 2L), s"got $row")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
