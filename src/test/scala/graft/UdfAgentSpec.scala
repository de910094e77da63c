package graft

import graft.sources.{UdfAgent, UdfProto}
import graft.sources.UdfProto._

/** Agent-side library (sources/UdfAgent — the reference udf/agent
  * analog): the request-decode half of the codec, the dispatch loop,
  * and REAL `java -cp` child agents driven by the server-side runner —
  * both protocol halves are independent code paths meeting only on the
  * wire. */
class UdfAgentSpec extends SparkSpec {
  import spark.implicits._

  private def frame(msg: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    UdfProto.writeFramed(b, msg)
    b.toByteArray
  }

  private def responses(out: Array[Byte]): Seq[AgentResponse] = {
    val in = new java.io.ByteArrayInputStream(out)
    val acc = Seq.newBuilder[AgentResponse]
    var size = UdfProto.readUvarintOrEof(in)
    while (size >= 0) {
      val buf = new Array[Byte](size.toInt)
      in.read(buf)
      acc += UdfProto.decodeResponse(buf)
      size = UdfProto.readUvarintOrEof(in)
    }
    acc.result()
  }

  test("in-JVM loop: info/init/keepalive/point dispatch, error surfaces and rethrows") {
    val p = ProtoPoint(5L, "m", "", "", "", Nil, Map("h" -> "a"),
      Map("v" -> 2.0), Map.empty, Map.empty, Map.empty, byName = false)
    val reqs = new java.io.ByteArrayOutputStream()
    reqs.write(frame(UdfProto.encodeInfoRequest()))
    reqs.write(frame(UdfProto.encodeInitRequest(
      Seq("factor" -> Seq(OptDouble(3.0)), "flags" -> Seq(OptBool(true), OptInt(7))),
      "task9", "node2")))
    reqs.write(frame {
      val w = new ProtoWriter; val k = new ProtoWriter
      k.varintAlways(1, 123L); w.msgField(3, k.bytes); w.bytes
    })
    reqs.write(frame(UdfProto.encodeRequestPoint(p)))
    var seenInit: (Seq[(String, Seq[OptVal])], String, String) = null
    val out = new java.io.ByteArrayOutputStream()
    UdfAgent.run(new UdfAgent.Handler {
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        seenInit = (options, taskId, nodeId); Right(())
      }
      def point(pt: ProtoPoint, emit: ProtoPoint => Unit): Unit = {
        emit(pt.copy(fieldsDouble = pt.fieldsDouble.view.mapValues(_ * 10).toMap))
        emit(pt.copy(name = pt.name + "_copy")) // 1→N fan-out
      }
    }, new java.io.ByteArrayInputStream(reqs.toByteArray), out)
    // init saw the decoded options — typed values AND multi-value lists
    assert(seenInit === ((Seq(
      "factor" -> Seq(OptDouble(3.0)),
      "flags" -> Seq(OptBool(true), OptInt(7))), "task9", "node2")))
    val rs = responses(out.toByteArray)
    assert(rs(0) === RInfo(0, 0))
    assert(rs(1) === RInit(true, ""))
    assert(rs(2) === RKeepalive(123L))
    assert(rs(3) === RPoint(p.copy(fieldsDouble = Map("v" -> 20.0))))
    assert(rs(4) === RPoint(p.copy(name = "m_copy")))
    // a throwing handler emits ErrorResponse then rethrows
    val errOut = new java.io.ByteArrayOutputStream()
    val ex = intercept[RuntimeException] {
      UdfAgent.run(new UdfAgent.Handler {
        def point(pt: ProtoPoint, emit: ProtoPoint => Unit): Unit =
          throw new RuntimeException("handler exploded")
      }, new java.io.ByteArrayInputStream(frame(UdfProto.encodeRequestPoint(p))), errOut)
    }
    assert(ex.getMessage === "handler exploded")
    assert(responses(errOut.toByteArray) === Seq(RError("handler exploded")))
  }

  test("request decode round-trips the init option surface and tolerates unknowns") {
    val enc = UdfProto.encodeInitRequest(
      Seq("a" -> Seq(OptString("x y"), OptDuration(5000000L)),
        "b" -> Nil),
      "t", "")
    UdfProto.decodeRequest(enc) match {
      case QInit(opts, task, node) =>
        assert(opts === Seq("a" -> Seq(OptString("x y"), OptDuration(5000000L)), "b" -> Nil))
        assert(task === "t" && node === "")
      case other => fail(s"expected QInit, got $other")
    }
    assert(UdfProto.decodeRequest(UdfProto.encodeInfoRequest()) === QInfo)
  }

  private lazy val javaCp: String = sys.props("java.class.path")

  test("a real Scala agent child (java -cp) round-trips through the server runner") {
    val pts = (1 to 20).map(i => ProtoPoint(
      i * 1000L, "cpu", "", "", "", Nil, Map("host" -> s"h${i % 2}"),
      Map("v" -> i * 1.0), Map.empty, Map.empty, Map.empty, byName = false))
    val out = UdfProto.pipePoints(
        spark.createDataset(pts).coalesce(2),
        Agent.Process(Seq("java", "-cp", javaCp, "graft.tools.ScaleAgent")),
        options = Seq("factor" -> Seq(OptDouble(2.5))))
      .collect().sortBy(_.time)
    assert(out.length === 20)
    out.zip(pts).foreach { case (o, p) =>
      assert(o.fieldsDouble("v") === p.fieldsDouble("v") * 2.5)
      assert(o.tags === p.tags)
    }
  }

  test("declared options: golden wire bytes and define-time validation (pipeline/udf.go:128-160)") {
    // InfoResponse{options:{"factor":[DOUBLE]}} — exact proto3 bytes:
    // wrapper field1, inner field3 map entry{key=1 "factor",
    // value=2 OptionInfo{packed valueTypes=1 [2]}}
    val enc = UdfProto.encodeResponseInfo(0, 0, Map("factor" -> Seq(2)))
    val expected = Array(
      0x0a, 0x0f, // Response.info, len 15
      0x1a, 0x0d, // options entry, len 13
      0x0a, 0x06, 'f'.toInt, 'a'.toInt, 'c'.toInt, 't'.toInt, 'o'.toInt, 'r'.toInt,
      0x12, 0x03, 0x0a, 0x01, 0x02 // OptionInfo{valueTypes packed [DOUBLE]}
    ).map(_.toByte)
    assert(enc.toSeq === expected.toSeq)
    assert(UdfProto.decodeResponse(enc) === RInfo(0, 0, Map("factor" -> Seq(2))))
    // unpacked repeated enum decodes too (proto2-style writers)
    val unpacked = Array(
      0x0a, 0x0e, 0x1a, 0x0c,
      0x0a, 0x06, 'f'.toInt, 'a'.toInt, 'c'.toInt, 't'.toInt, 'o'.toInt, 'r'.toInt,
      0x12, 0x02, 0x08, 0x02).map(_.toByte)
    assert(UdfProto.decodeResponse(unpacked) === RInfo(0, 0, Map("factor" -> Seq(2))))
    // a live declaring agent: valid options pass; unknown name, wrong
    // type, and wrong arity fail the handshake with the reference errors
    val dir = java.nio.file.Files.createTempDirectory("graft_udf_opts")
    val path = dir.resolve("opts.sock")
    def handler() = new UdfAgent.Handler {
      private var factor = 1.0
      override def declaredOptions(): Map[String, Seq[Int]] =
        // DOUBLE; (STRING, INT); DURATION
        Map("factor" -> Seq(2), "label" -> Seq(3, 1), "every" -> Seq(4))
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.collectFirst { case ("factor", Seq(OptDouble(f))) => f }
          .foreach(factor = _)
        Right(())
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit =
        emit(p.copy(fieldsDouble = p.fieldsDouble.view.mapValues(_ * factor).toMap))
    }
    val server = UdfAgent.serveSocket(path, () => handler())
    try {
      val one = Seq(ProtoPoint(1L, "m", "", "", "", Nil, Map.empty,
        Map("v" -> 2.0), Map.empty, Map.empty, Map.empty, byName = false))
      def run(opts: Seq[(String, Seq[OptVal])]) =
        UdfProto.runAgentPartition(Agent.Socket(path.toString), opts, "t", "n", one.iterator)
          .toList
      assert(run(Seq("factor" -> Seq(OptDouble(5.0)),
        "label" -> Seq(OptString("x"), OptInt(3))))
        .head.fieldsDouble("v") === 10.0)
      val e1 = intercept[RuntimeException] { run(Seq("bogus" -> Seq(OptInt(1)))) }
      assert(e1.getMessage.contains("unknown option bogus"))
      val e2 = intercept[RuntimeException] { run(Seq("factor" -> Seq(OptInt(5)))) }
      assert(e2.getMessage.contains("unexpected arg to factor, got INT expected DOUBLE"))
      val e3 = intercept[RuntimeException] { run(Seq("label" -> Seq(OptString("x")))) }
      assert(e3.getMessage.contains("unexpected number of args to label, got 1 expected 2"))
      // a DURATION-declared option takes the typed literal TICKscript's
      // `.every(1s)` produces (defaultUdfOptions → OptDuration nanos) and
      // refuses the bare double the pre-typed parser would have sent
      assert(run(Seq("every" -> Seq(OptDuration(1000000000L))))
        .head.fieldsDouble("v") === 2.0)
      val e4 = intercept[RuntimeException] { run(Seq("every" -> Seq(OptDouble(1.0)))) }
      assert(e4.getMessage.contains("unexpected arg to every, got DOUBLE expected DURATION"))
    } finally server.close()
  }

  test("BATCH→STREAM over the unix-socket attachment; field-less batch emits 0.0, not -Infinity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_udf_b2p")
    val path = dir.resolve("agg.sock")
    def handler() = new UdfAgent.Handler {
      override def info(): (Int, Int) = (UdfAgent.Batch, UdfAgent.Stream)
      private var n = 0L
      private var vmax = Double.NegativeInfinity
      private var tags = Map.empty[String, String]
      override def beginBatch(b: ProtoBeginBatch, emit: UdfAgent.Emit): Unit = {
        n = 0L; vmax = Double.NegativeInfinity; tags = b.tags
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = {
        p.fieldsDouble.get("value").foreach(v => if (v > vmax) vmax = v); n += 1
      }
      override def endBatch(e: ProtoEndBatch, emit: UdfAgent.Emit): Unit =
        emit.point(ProtoPoint(e.tmax, e.name, "", "", e.group, Nil, tags,
          Map("vmax" -> (if (vmax == Double.NegativeInfinity) 0.0 else vmax)),
          Map("n" -> n), Map.empty, Map.empty, byName = false))
    }
    val server = UdfAgent.serveSocket(path, () => handler())
    try {
      val batches = Seq(
        ProtoBatch("cpu", "host=a", Map("host" -> "a"), byName = false, 5000L,
          (1 to 4).map(i => ProtoPoint(i * 1000L, "", "", "", "host=a", Nil,
            Map.empty, Map("value" -> i * 1.0),
            Map.empty, Map.empty, Map.empty, byName = false))),
        // every point lacks the aggregated field: the max must land as
        // 0.0, never the -Infinity sentinel line protocol cannot carry
        ProtoBatch("cpu", "host=b", Map("host" -> "b"), byName = false, 9000L,
          (1 to 2).map(i => ProtoPoint(i * 1000L, "", "", "", "host=b", Nil,
            Map.empty, Map.empty,
            Map("other" -> i.toLong), Map.empty, Map.empty, byName = false))))
      val out = UdfProto.runBatchToPointsPartition(
        Agent.Socket(path.toString), Nil, "t", "n", batches.iterator).toList.sortBy(_.group)
      assert(out.map(p => (p.group, p.fieldsDouble("vmax"), p.fieldsInt("n"))) ===
        List(("host=a", 4.0, 4L), ("host=b", 0.0, 2L)))
    } finally server.close()
  }

  test("unix-socket agent server: partitions dial independent sessions (socket config analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_udf_sock")
    val path = dir.resolve("agent.sock")
    val sessions = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = UdfAgent.serveSocket(path, () => new UdfAgent.Handler {
      sessions.incrementAndGet()
      private var factor = 1.0
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.collectFirst { case ("factor", Seq(OptDouble(f))) => f }
          .foreach(factor = _)
        Right(())
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit =
        emit(p.copy(fieldsDouble = p.fieldsDouble.view.mapValues(_ * factor).toMap))
    })
    try {
      val pts = (1 to 30).map(i => ProtoPoint(
        i * 1000L, "cpu", "", "", "", Nil, Map.empty, Map("v" -> i * 1.0),
        Map.empty, Map.empty, Map.empty, byName = false))
      val out = UdfProto.pipePoints(
          spark.createDataset(pts).repartition(3), Agent.Socket(path.toString),
          options = Seq("factor" -> Seq(OptDouble(3.0))))
        .collect().sortBy(_.time)
      assert(out.length === 30)
      out.zip(pts).foreach { case (o, p) =>
        assert(o.fieldsDouble("v") === p.fieldsDouble("v") * 3.0)
      }
      // one fresh handler per connection: independent protocol sessions,
      // exactly the reference's socket-connection contract
      assert(sessions.get() === 3)
    } finally server.close()
  }

  test("TICKscript |@udf() binds a socket agent (protobufUdf(Agent.Socket))") {
    import graft.tick.TickScript
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_udf_socktick")
    val path = dir.resolve("tick.sock")
    val server = UdfAgent.serveSocket(path, () => new UdfAgent.Handler {
      private var factor = 1.0
      override def init(options: Seq[(String, Seq[OptVal])], taskId: String,
          nodeId: String): Either[String, Unit] = {
        options.collectFirst { case ("factor", Seq(OptInt(f))) => f.toDouble }
          .foreach(factor = _)
        Right(())
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit =
        emit(p.copy(fieldsDouble = p.fieldsDouble.view.mapValues(_ * factor).toMap))
    })
    try {
      val source = Seq(
        ("cpu", "a", new java.sql.Timestamp(1000), 1.5),
        ("cpu", "b", new java.sql.Timestamp(2000), 2.5))
        .toDF("measurement", "host", "time", "value")
      val agent = TickScript.protobufUdf(Agent.Socket(path.toString),
        tagCols = Seq("host"), inFields = Seq("value"), outFields = Seq("value"))
      val out = TickScript.compile(
          """stream
            ||from().measurement('cpu')
            ||@sockagent().factor(4)
            |""".stripMargin, source, udfs = Map("sockagent" -> agent))
        .select("host", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      assert(out === Array(("a", 6.0), ("b", 10.0)))
    } finally server.close()
  }

  test("unix-socket BATCH agent server serves pipeBatches(..., Agent.Socket)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_udf_sockb")
    val path = dir.resolve("batch.sock")
    val server = UdfAgent.serveSocket(path, () => new UdfAgent.Handler {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[ProtoPoint]
      private var begin: ProtoBeginBatch = null
      override def info(): (Int, Int) = (UdfAgent.Batch, UdfAgent.Batch)
      override def beginBatch(b: ProtoBeginBatch, emit: UdfAgent.Emit): Unit = {
        begin = b; buf.clear()
      }
      def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = buf += p
      override def endBatch(e: ProtoEndBatch, emit: UdfAgent.Emit): Unit = {
        emit.beginBatch(begin.copy(size = buf.length.toLong))
        buf.foreach(p => emit.point(p.copy(
          fieldsInt = p.fieldsInt + ("n" -> buf.length.toLong))))
        emit.endBatch(e)
      }
    })
    try {
      val batches = (0 until 2).map(g => ProtoBatch(
        "m", s"g=$g", Map("g" -> g.toString), byName = false, tmax = 100L + g,
        points = (1 to 3 + g).map(i => ProtoPoint(
          i.toLong, "", "", "", s"g=$g", Nil, Map.empty, Map("v" -> i * 1.0),
          Map.empty, Map.empty, Map.empty, byName = false))))
      val out = UdfProto.pipeBatches(
          spark.createDataset(batches).coalesce(1), Agent.Socket(path.toString))
        .collect().sortBy(_.group)
      assert(out.length === 2)
      out.zip(batches).foreach { case (o, b) =>
        assert(o.tmax === b.tmax && o.tags === b.tags)
        assert(o.points.forall(_.fieldsInt("n") === b.points.length.toLong))
      }
    } finally server.close()
  }

  test("TICKscript binds a BATCH→STREAM socket agent: same rows as the child process") {
    import graft.tick.TickScript
    val rows = for {
      h <- Seq("a", "b")
      (t, v) <- Seq((1, 1.0), (3, 5.0), (5, 2.0), (12, 7.0), (14, 4.0))
    } yield ("cpu", h, new java.sql.Timestamp(t * 1000L),
      v + (if (h == "b") 10.0 else 0.0))
    val source = rows.toDF("measurement", "host", "time", "value")
    val script =
      """stream
        ||from().measurement('cpu').groupBy('host')
        ||window().period(10s).every(10s)
        ||@bagg().field('value')
        |""".stripMargin
    def run(agent: Agent) = TickScript.compile(script, source, udfs = Map("bagg" ->
        TickScript.protobufBatchToPointsUdf(agent,
          tagCols = Seq("host"), inFields = Seq("value"), outFields = Seq("vmax"))))
      .select("host", "time", "vmax")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaProcess = run(Agent.Process(
      Seq("java", "-cp", javaCp, "graft.tools.BatchAggAgent")))
    val dir = java.nio.file.Files.createTempDirectory("graft_udf_sockb2p")
    val path = dir.resolve("bagg.sock")
    val server = UdfAgent.serveSocket(path, () => graft.tools.BatchAggAgent.handler())
    try {
      val viaSocket = run(Agent.Socket(path.toString))
      assert(viaSocket === viaProcess)
      assert(viaSocket === Seq(
        ("a", 5000L, 5.0), ("a", 14000L, 7.0),
        ("b", 5000L, 15.0), ("b", 14000L, 17.0)))
    } finally server.close()
  }

  test("MovingAvgAgent matches a driver-side moving average per group") {
    val pts = (1 to 24).map(i => ProtoPoint(
      i * 1000L, "cpu", "", "", "", Nil, Map("host" -> s"h${i % 2}"),
      Map("value" -> i * 1.0), Map.empty, Map.empty, Map.empty, byName = false))
    val out = UdfProto.pipePoints(
        spark.createDataset(pts).coalesce(1), // one child: windowed state is per process
        Agent.Process(Seq("java", "-cp", javaCp, "graft.tools.MovingAvgAgent")),
        options = Seq("field" -> Seq(OptString("value")),
          "size" -> Seq(OptInt(3)), "as" -> Seq(OptString("avg"))))
      .collect().sortBy(_.time)
    assert(out.length === 24)
    val hist = scala.collection.mutable.Map.empty[String, List[Double]]
    pts.foreach { p =>
      val h = p.tags("host")
      val w = (p.fieldsDouble("value") :: hist.getOrElse(h, Nil)).take(3)
      hist(h) = w
      val exp = w.sum / w.length
      val got = out.find(_.time == p.time).get.fieldsDouble("avg")
      assert(math.abs(got - exp) < 1e-12, s"t=${p.time}")
    }
  }
}
