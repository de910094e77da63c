package graft

import graft.api.Pipe
import graft.sources.{LineProtocol, Sinks}
import graft.streaming.WindowStream
import graft.streaming.WindowStream.CountPoint
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("line protocol round-trips through writer and parser") {
    val df = Seq(("cpu", "host a", 0.5, 1000000000L)).toDF("m", "host", "usage", "ts")
    val line = df.select(Sinks.toLineProtocol(
      col("m"), Seq("host" -> col("host")), Seq("usage" -> col("usage")), col("ts"))).as[String].head()
    assert(line == "cpu,host=host\\ a usage=0.5 1000000000")
    val back = LineProtocol.parseLine(line).get
    assert(back.measurement == "cpu" && back.tags("host") == "host a" &&
      back.fieldsFloat("usage") == 0.5 && back.timeNs == 1000000000L)
  }

  test("influxOut writes measurement/day partitioned parquet") {
    val dir = Files.createTempDirectory("graft_out").toString
    val df = Seq(("cpu", new java.sql.Timestamp(86400L * 1000), 1.0))
      .toDF("measurement", "time", "v")
    Sinks.influxOut(df, dir, extraTags = Map("dc" -> "east"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 1)
    assert(back.columns.toSet.contains("dc"))
    assert(back.select("measurement").as[String].head() == "cpu")
  }

  test("httpPost hands the Result JSON to the transport") {
    var posted: String = null
    val df = Seq(("a", 1.0)).toDF("host", "v")
    Sinks.httpPost(df, "m", Seq("host"), posted = _)
    assert(posted != null && posted.contains(""""name":"m""""))
  }

  test("execAlert hands every alert.Data payload to the command runner") {
    SinkRecorders.clear()
    val df = Seq("p1", "p2", "p3").toDF("payload")
    Sinks.execAlert(df, "payload", "/bin/cat", Seq("-"), SinkRecorders.execRecorder)
    assert(SinkRecorders.drain().toSet == Set("p1", "p2", "p3"))
  }

  test("runProcess feeds the payload to the command's stdin") {
    val tmp = Files.createTempFile("graft_exec", ".txt")
    Sinks.runProcess("/bin/sh", Seq("-c", s"cat > $tmp"), "{\"id\":\"a\"}")
    assert(new String(Files.readAllBytes(tmp), "UTF-8") == "{\"id\":\"a\"}")
  }

  test("tcpAlert writes newline-delimited payloads to a real socket") {
    val server = new java.net.ServerSocket(0)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val acceptor = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        Iterator.continually(in.readLine()).takeWhile(_ != null).foreach(received.add)
        sock.close()
      } catch { case _: Throwable => () }
    })
    acceptor.start()
    val df = Seq("t1", "t2").toDF("payload").coalesce(1)
    Sinks.tcpAlert(df, "payload", "127.0.0.1", server.getLocalPort)
    acceptor.join(5000)
    server.close()
    assert(received.toArray.toSet == Set("t1", "t2"))
  }

  test("emailAlert hands MIME documents to the transport") {
    SinkRecorders.clear()
    val df = Seq("From: a\r\n\r\nbody").toDF("mime")
    Sinks.emailAlert(df, "mime", SinkRecorders.emailRecorder)
    assert(SinkRecorders.drain() == Seq("From: a\r\n\r\nbody"))
  }

  test("graft extensions inject native functions; SQL resolves them") {
    // nothing registers these on the fresh session: SQL reaches the
    // functions GraftExtensions injects, and they evaluate
    val s2 = spark.newSession()
    assert(s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
    assert(s2.sql("SELECT size(graft_minhash16(array(42L)))").head().getInt(0) == 16)
  }

  test("windowPerPoint carries the trailing-period aggregate on each point") {
    val df = Seq((1L, 0L), (2L, 30L), (3L, 61L)).map { case (id, sec) =>
      (id, new java.sql.Timestamp(sec * 1000), 10.0 * id)
    }.toDF("id", "time", "v")
    val p = Pipe(df, dims = Nil, idCol = Some("id")).windowPerPoint(60, "v")
    val out = p.df.orderBy("id").select("w_cnt", "w_mean").as[(Long, Double)].collect().toSeq
    // t=61 window (1, 61] contains t=30 and t=61 only
    assert(out == Seq((1L, 10.0), (2L, 15.0), (2L, 25.0)))
  }

  test("periodic barrier emits per group on the wall clock") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[CountPoint]
    val q = WindowStream.periodicBarrier(ms.toDS(), 300).writeStream
      .format("memory").queryName("pb_t").outputMode("update").start()
    try {
      ms.addData(CountPoint("g", 1L, 1.0))
      // NOTE no processAllAvailable: with processing-time timeouts the
      // engine keeps scheduling timer batches and that call livelocks.
      // The data batch arms the timer on its own; poll bounded for emits.
      val deadline = System.currentTimeMillis + 20000
      var ok = false
      while (!ok && System.currentTimeMillis < deadline) {
        ok = spark.table("pb_t").filter($"group" === "g").count() > 0
        if (!ok) Thread.sleep(250)
      }
      assert(ok, "no periodic barrier for idle group g within 20s")
    } finally q.stop()
  }

  test("TestStream_HttpPost_URL_Template golden: per-row URL rendering") {
    // httpPost('…/{{ .Name }}/?host={{ index .Tags "host"}}&cpu={{ index
    // .Tags "cpu" }}') — the URL is a Go row template rendered per point
    // (streamer_test.go TestStream_HttpPost_URL_Template expects
    // /cpu/?host=serverA&cpu=a,b,b,c,c for the first five posts)
    val df = graft.sources.Replay.readSrpl(spark,
        RefFixtures.testdata("TestStream_HttpPost_URL_Template.srpl"))
      .filter(col("measurement") === "cpu")
      .orderBy("ts_ns")
    val url = graft.sources.Sinks.rowTemplate(
      """/{{ .Name }}/?host={{ index .Tags "host"}}&cpu={{ index .Tags "cpu" }}""",
      name = col("measurement"),
      tags = Map("host" -> expr("tags['host']"), "cpu" -> expr("tags['cpu']")),
      timeCol = col("time"),
      fields = Map("value" -> expr("fieldsFloat['value']")))
    val urls = df.select(url).as[String].collect().toSeq
    assert(urls.take(5) == Seq(
      "/cpu/?host=serverA&cpu=a", "/cpu/?host=serverA&cpu=b",
      "/cpu/?host=serverA&cpu=b", "/cpu/?host=serverA&cpu=c",
      "/cpu/?host=serverA&cpu=c"))
  }

  test("periodic barrier ticks match the batch simulator's wall grid") {
    // Barrier.simulate (periodic): ticker anchored at the group's first
    // arrival, barrier DATA time = the wall tick arm+k·period — never the
    // point's data time (barrier.go emitBarrier stamps time.Now()). The
    // streaming FSM must produce the identical rebased grid.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[CountPoint]
    val q = WindowStream.periodicBarrier(ms.toDS(), 300).writeStream
      .format("memory").queryName("pb_par").outputMode("update").start()
    try {
      // data time 20s epoch — nowhere near the wall clock, so any leak of
      // data time into the stamps breaks the grid assertion below
      ms.addData(CountPoint("g", 20000000L, 1.0))
      val deadline = System.currentTimeMillis + 20000
      var stamps = Seq.empty[Long]
      while (stamps.length < 3 && System.currentTimeMillis < deadline) {
        stamps = spark.table("pb_par").filter($"group" === "g")
          .orderBy("emittedAtUs").select("emittedAtUs").as[Long].collect().toSeq
        if (stamps.length < 3) Thread.sleep(200)
      }
      assert(stamps.length >= 3, s"expected 3+ periodic barriers, got $stamps")
      val streamedGrid = stamps.take(3).map(_ - stamps.head)
      // batch simulator, same shape: one point arriving at wall 0, watch
      // until 3 ticks elapse
      val one = Seq((new java.sql.Timestamp(20000L), 0L, 1.0))
        .toDF("time", "arrival_us", "value")
      val batchGrid = graft.operators.Barrier
        .periodic(one, "time", "arrival_us", Nil, 0.3, endWallUs = 900000L)
        .filter($"__barrier").orderBy("__evt_us")
        .select("__evt_us").as[Long].collect().toSeq
        .map(_ - 300000L) // rebase tick 1 to 0, as streamedGrid does
      assert(batchGrid == Seq(0L, 300000L, 600000L))
      assert(streamedGrid == batchGrid, s"streamed $streamedGrid vs batch $batchGrid")
      // and the stamps are wall-derived, not the 20s data time
      assert(stamps.head > 1000000000L * 1000000L)
    } finally q.stop()
  }

  test("idle barrier times match the golden-pinned law: lastPoint+idle, stepping by idle") {
    // Barrier_Idle_No_Data golden (GoldenReplaySpec3): one point then
    // silence → barriers at t0+idle, t0+2·idle in DATA time, regardless of
    // wall clock (barrier.go emitBarrier:196-209 advances lastPointT by
    // idle on every fire). The streaming FSM must emit the same times.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[CountPoint]
    val t0 = 20000000L // data time 20 s
    val q = WindowStream.idleBarrier(ms.toDS(), idleMs = 400, deleteGroups = false)
      .writeStream.format("memory").queryName("ib_par").outputMode("update").start()
    try {
      ms.addData(CountPoint("g", t0, 1.0))
      val deadline = System.currentTimeMillis + 20000
      var times = Seq.empty[Long]
      while (times.length < 2 && System.currentTimeMillis < deadline) {
        times = spark.table("ib_par").filter($"group" === "g")
          .orderBy("emittedAtUs").select("emittedAtUs").as[Long].collect().toSeq
        if (times.length < 2) Thread.sleep(200)
      }
      assert(times.length >= 2, s"expected 2+ idle barriers, got $times")
      assert(times.take(2) == Seq(t0 + 400000L, t0 + 800000L), times.toString)
    } finally q.stop()
  }

  test("GOLDEN TestStream_InfluxDBOut_CreateDatabase[AndRP]: the create DDL bytes") {
    // streamer_test.go:12577-12700 expectations, byte-for-byte
    assert(graft.sources.Sinks.createDatabaseStatement("db") == "CREATE DATABASE db")
    assert(graft.sources.Sinks.createDatabaseStatement("db", Some("rp")) ==
      "CREATE DATABASE db WITH NAME rp")
    // non-bare identifiers quote like InfluxQL QuoteIdent
    assert(graft.sources.Sinks.createDatabaseStatement("my-db", Some("0rp")) ==
      "CREATE DATABASE \"my-db\" WITH NAME \"0rp\"")
    // InfluxQL keywords are not bare idents even though they match the
    // ident charset — SELECT/select must quote (any case), as must
    // Unicode "letters" the InfluxQL lexer does not accept bare
    assert(graft.sources.Sinks.createDatabaseStatement("select") ==
      "CREATE DATABASE \"select\"")
    assert(graft.sources.Sinks.createDatabaseStatement("DB", Some("Name")) ==
      "CREATE DATABASE DB WITH NAME \"Name\"") // NAME is a keyword, DB is not
    assert(graft.sources.Sinks.createDatabaseStatement("sélect") ==
      "CREATE DATABASE \"sélect\"")
    assert(graft.sources.Sinks.createDatabaseStatement("db\"x") ==
      "CREATE DATABASE \"db\\\"x\"")
    }
}

/** JVM-static recorder for sink transports: executor closures in local mode
  * share this JVM, so the recording functions stay serializable while the
  * buffer lives here. */
object SinkRecorders {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def clear(): Unit = buf.clear()
  def drain(): Seq[String] = buf.toArray(Array.empty[String]).toSeq
  val execRecorder: (String, Seq[String], String) => Unit =
    (prog, _, payload) => { require(prog == "/bin/cat"); buf.add(payload); () }
  val emailRecorder: String => Unit = m => { buf.add(m); () }
}
