package graft

import org.apache.spark.sql.functions._
import graft.sources.{LineProtocol, ProcessUdf}

/** Out-of-process UDF bridge: real child processes (cat/sed/awk/sh) over
  * line-protocol stdin/stdout, per partition — the reference `@udf` agent
  * round-trip (udf.go:33-411) minus the protobuf framing. */
class ProcessUdfSpec extends SparkSpec {
  import spark.implicits._

  private def lines(n: Int) =
    (1 to n).map(i => s"cpu,host=h${i % 3} value=$i.5,count=${i}i $i").toDS()

  test("identity child (cat) round-trips every line, multi-partition") {
    val in = lines(100).repartition(4)
    val out = ProcessUdf.pipeLines(in, Seq("cat")).collect().sorted
    assert(out === lines(100).collect().sorted)
  }

  test("fuzz: UTF-8 content survives the child pipe byte-exact (cat)") {
    val rnd = new scala.util.Random(13L)
    // whole glyphs, not chars — indexing a String would split the emoji's
    // surrogate pair and an unpaired surrogate can't survive UTF-8 bytes
    val glyphs = Seq("a", "b", "0", "1", " ", ",", "=", "\"", "\\", "漢", "字", "é", "π", "∞", "🙂")
    val in = (1 to 200).map { i =>
      s"m$i " + (0 until rnd.nextInt(40)).map(_ => glyphs(rnd.nextInt(glyphs.length))).mkString
    }
    val out = ProcessUdf.pipeLines(in.toDS().repartition(3), Seq("cat")).collect().sorted
    assert(out === in.sorted.toArray)
  }

  test("map child (sed) rewrites the measurement; output re-parses") {
    val out = ProcessUdf.pipeLines(lines(10), Seq("sed", "s/^cpu/cpu_udf/"))
    val pts = LineProtocol.parse(out).collect()
    assert(pts.length === 10)
    assert(pts.forall(_.measurement == "cpu_udf"))
    assert(pts.map(_.fieldsInt("count")).sorted === (1L to 10L).toArray)
  }

  test("fan-out child (awk) emits 2 points per input point (1->N shape)") {
    val out = ProcessUdf.pipeLines(lines(7), Seq("awk", "{print; print}"))
    assert(out.count() === 14)
  }

  test("filter child (awk) drops points (1->0 shape)") {
    val out = ProcessUdf.pipeLines(lines(10), Seq("awk", "/host=h1/"))
    val pts = LineProtocol.parse(out).collect()
    assert(pts.nonEmpty && pts.forall(_.tags("host") == "h1"))
  }

  test("non-zero exit fails the task and surfaces stderr") {
    val ex = intercept[Exception] {
      ProcessUdf.pipeLines(lines(3), Seq("sh", "-c", "cat >/dev/null; echo boom >&2; exit 3")).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("exited 3") && msg.contains("boom"))
  }

  test("empty partitions spawn no child; empty input yields empty output") {
    val in = spark.emptyDataset[String].repartition(3)
    assert(ProcessUdf.pipeLines(in, Seq("false")).count() === 0L)
  }

  test("child closing stdin early does not hang the writer") {
    // head -n 2 closes stdin after two lines; the writer must swallow the
    // broken pipe and the task must still return head's output cleanly.
    val out = ProcessUdf.pipeLines(lines(1000).coalesce(1), Seq("head", "-n", "2")).collect()
    assert(out.length === 2)
  }

  test("transform(): frame -> child -> canonical point frame, types intact") {
    val df = Seq((1L, "a", 2.5, 7L), (2L, "b", 3.5, 9L))
      .toDF("ts_ns", "host", "value", "count")
    val res = ProcessUdf.transform(
      df,
      Seq("sed", "s/^m1/m2/"),
      measurement = lit("m1"),
      tags = Seq("host" -> col("host")),
      fieldCols = Seq("value", "count"),
      timeNs = col("ts_ns"))
    val rows = res.selectExpr(
        "measurement", "tags['host']", "fieldsFloat['value']", "fieldsInt['count']", "ts_ns")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._5)
    assert(rows === Array(("m2", "a", 2.5, 7L, 1L), ("m2", "b", 3.5, 9L, 2L)))
  }

  test("streaming: pipeLines over micro-batches ≡ batch (one child per partition per batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val mkLines = (r: Range) => r.map(i => s"cpu value=$i.0 $i")
    val ms = MemoryStream[String]
    val q = ProcessUdf.pipeLines(ms.toDS(), Seq("sed", "s/^cpu/cpu_s/"))
      .writeStream.format("memory").queryName("udf_par").outputMode("append").start()
    try {
      ms.addData(mkLines(1 to 50))
      q.processAllAvailable()
      ms.addData(mkLines(51 to 60))
      q.processAllAvailable()
      val got = spark.table("udf_par").as[String].collect().sorted
      val want = ProcessUdf.pipeLines(mkLines(1 to 60).toDS(), Seq("sed", "s/^cpu/cpu_s/"))
        .collect().sorted
      assert(got === want)
    } finally q.stop()
  }

  test("TICKscript |@udf(): child process wired through the DSL, props as options") {
    import graft.tick.TickScript
    import graft.tick.TickScript.Call
    val source = Seq(
      ("cpu", "a", new java.sql.Timestamp(1000), 1.5),
      ("cpu", "b", new java.sql.Timestamp(2000), 2.5),
      ("mem", "a", new java.sql.Timestamp(3000), 9.0))
      .toDF("measurement", "host", "time", "value")
    // awk scales the single field by the .factor() node property — the
    // reference's moving-avg agent shape (udf/agent/examples) minus protobuf
    val prog = "{n=split($2,f,\"=\"); printf \"%s %s=%s %s\\n\", $1, f[1], f[2]*factor, $3}"
    val scale = TickScript.processUdf(
      Seq("awk"), tagCols = Seq("host"), inFields = Seq("value"), outFields = Seq("value"),
      propsToArgs = ps => {
        val f = ps.collectFirst { case Call("factor", Seq(v)) => v }.get
        Seq("-v", s"factor=$f", prog)
      })
    val script =
      """stream
        ||from().measurement('cpu')
        ||@scale().factor(2.0)
        |""".stripMargin
    val out = TickScript.compile(script, source, udfs = Map("scale" -> scale))
      .select("measurement", "host", "value", "time").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getTimestamp(3).getTime))
      .sortBy(_._4)
    assert(out === Array(("cpu", "a", 3.0, 1000L), ("cpu", "b", 5.0, 2000L)))
  }

  test("GOLDEN TestStream_CustomFunctions: verbatim @udf script, child gates on the windowed count") {
    import graft.tick.TickScript
    import graft.tick.TickScript.Call
    val srpl = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata("TestStream_CustomFunctions.srpl"))
    // fixture ticks are raw small ints; the replay harness anchors them on
    // a seconds clock — reinterpret so the 10s window grid matches
    val src = srpl.select(col("measurement"),
      timestamp_seconds(col("ts_ns")).as("time"),
      element_at(col("tags"), "host").as("host"),
      element_at(col("tags"), "type").as("type"),
      element_at(col("fieldsFloat"), "value").as("value"))
    // the reference mocks the agent to answer each windowed count with
    // customField=42; a real sed child does the same but GATES on the
    // expected count=9 (serverA cpu points in [0,10)), so the golden also
    // verifies the windowed count the mock ignored
    var seenOpts: Seq[Call] = null
    val custom = TickScript.processUdf(
      Seq("sed", "-n", "s/^cpu count=9i \\(.*\\)$/cpu customField=42 \\1/p"),
      tagCols = Nil, inFields = Seq("count"), outFields = Seq("customField"),
      propsToArgs = ps => { seenOpts = ps; Nil })
    val script =
      """stream
        |	|from()
        |		.measurement('cpu')
        |		.where(lambda: "host" == 'serverA')
        |	|window()
        |		.period(10s)
        |		.every(10s)
        |	|count('value')
        |	@customFunc()
        |		.opt1('count')
        |		.opt2(FALSE, 1, 1.0, '1.0', 1s)
        |""".stripMargin
    val out = TickScript.compile(script, src, udfs = Map("customFunc" -> custom))
    assert(out.select("customField").collect().map(_.getDouble(0)).toSeq === Seq(42.0))
    // the option surface parsed exactly as declared in the reference
    // script, each literal TYPED as the reference's InitRequest would
    // carry it (bool/int/double/string/duration — udf.proto OptionValue)
    assert(seenOpts.map(_.name) === Seq("opt1", "opt2"))
    assert(seenOpts(0).args === Seq("count"))
    assert(seenOpts(1).args === Seq(false, 1L, 1.0, "1.0", TickScript.Dur(1.0)))
  }

  test("UDF option literals carry reference types: BOOL and DURATION, through var arithmetic") {
    import graft.tick.TickScript
    import graft.tick.TickScript.{Call, Dur}
    import graft.sources.UdfProto.{OptBool, OptDuration}
    val src = Seq(("cpu", new java.sql.Timestamp(0), 1.0))
      .toDF("measurement", "time", "value")
    var seen: Seq[Call] = null
    val cap: (org.apache.spark.sql.DataFrame, Seq[Call]) => org.apache.spark.sql.DataFrame =
      (df, props) => { seen = props; df }
    val script =
      """var halfMin = 30s
        |var p = 2 * halfMin
        |stream
        |	|from()
        |	@agent()
        |		.flag(TRUE)
        |		.timeout(-10s)
        |		.period(p)
        |""".stripMargin
    TickScript.compile(script, src, udfs = Map("agent" -> cap))
    assert(seen.map(c => c.name -> c.args) === Seq(
      "flag" -> Seq(true), "timeout" -> Seq(Dur(-10.0)), "period" -> Seq(Dur(60.0))))
    // the default InitRequest mapping then types each literal exactly as
    // the reference's pipeline/udf.go does (udf.proto OptionValue:
    // DURATION = int64 nanos, BOOL native — not a stringified double)
    assert(TickScript.defaultUdfOptions(seen) === Seq(
      "flag" -> Seq(OptBool(true)),
      "timeout" -> Seq(OptDuration(-10000000000L)),
      "period" -> Seq(OptDuration(60000000000L))))
  }

  test("TICKscript @udf must be registered at definition time") {
    val source = Seq(("cpu", new java.sql.Timestamp(0), 1.0))
      .toDF("measurement", "time", "value")
    val ex = intercept[IllegalArgumentException] {
      graft.tick.TickScript.compile("stream\n|from()\n|@nope()\n", source)
    }
    assert(ex.getMessage.contains("undefined UDF @nope"))
  }

  test("stateful-per-stream child: awk running sum (the agent moving-avg pattern)") {
    // The reference ships a Python moving-average agent example
    // (udf/agent/examples); an awk cumulative sum over the partition stream
    // exercises the same shape: child keeps state across points of one
    // partition's stream.
    val in = (1 to 5).map(i => s"m val=$i.0 $i").toDS().coalesce(1)
    val out = ProcessUdf.pipeLines(
      in, Seq("awk", "{split($2,f,\"=\"); s+=f[2]; printf \"m sum=%.1f %s\\n\", s, $3}"))
    val pts = LineProtocol.parse(out).collect().sortBy(_.timeNs)
    assert(pts.map(_.fieldsFloat("sum")) === Array(1.0, 3.0, 6.0, 10.0, 15.0))
  }
}
