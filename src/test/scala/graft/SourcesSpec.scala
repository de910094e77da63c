package graft

import graft.functions.AlertTemplates
import graft.operators.{Deadman, Sideload}
import graft.sources.{LineProtocol, ResultRenderer}
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("line protocol parses measurement, tags, typed fields, timestamp") {
    val p = LineProtocol.parseLine(
      """weather,location=us\ midwest,season=fall temperature=82.5,count=5i,ok=true,desc="h\"i" 1465839830100400200""").get
    assert(p.measurement == "weather")
    assert(p.tags == Map("location" -> "us midwest", "season" -> "fall"))
    assert(p.fieldsFloat == Map("temperature" -> 82.5))
    assert(p.fieldsInt == Map("count" -> 5L))
    assert(p.fieldsBool == Map("ok" -> true))
    assert(p.fieldsStr == Map("desc" -> "h\"i"))
    assert(p.timeNs == 1465839830100400200L)
  }

  test("line protocol skips blanks/comments, tolerates malformed values") {
    assert(LineProtocol.parseLine("").isEmpty)
    assert(LineProtocol.parseLine("# comment").isEmpty)
    val bad = LineProtocol.parseLine("m v=notanumber 1").get
    assert(bad.fieldsFloat.isEmpty && bad.measurement == "m")
  }

  test("write precision scales timestamps; missing times truncate the default") {
    import LineProtocol.{parseLineWithPrecision, precisionMultiplier}
    assert(precisionMultiplier("s") === 1000000000L)
    assert(precisionMultiplier("ms") === 1000000L)
    intercept[IllegalArgumentException](precisionMultiplier("x"))
    // precision=s: the line's integer timestamp is seconds
    assert(parseLineWithPrecision("m v=1 1465839830", 0L, "s").get.timeNs ===
      1465839830000000000L)
    assert(parseLineWithPrecision("m v=1 1465839830100400", 0L, "u").get.timeNs ===
      1465839830100400000L)
    // missing timestamp: server default truncated to the precision
    assert(parseLineWithPrecision("m v=1", 1465839830123456789L, "s").get.timeNs ===
      1465839830000000000L)
    assert(parseLineWithPrecision("m v=1", 1465839830123456789L, "ms").get.timeNs ===
      1465839830123000000L)
    // ns path unchanged
    assert(parseLineWithPrecision("m v=1 17", 0L, "n").get.timeNs === 17L)
  }

  test("distributed parse produces a Pipe-ready frame") {
    val lines = Seq(
      "cpu,host=a usage=0.5 1000000000",
      "cpu,host=b usage=0.7 2000000000",
      "# comment").toDS()
    val df = LineProtocol.toPointFrame(LineProtocol.parse(lines))
    assert(df.count() == 2)
    assert(df.columns.contains("time") && df.columns.contains("ts_ns"))
    val hosts = df.select(expr("tags['host']")).as[String].collect().toSet
    assert(hosts == Set("a", "b"))
  }

  test("an unknown write precision fails when parse is called, even over no lines") {
    val e = intercept[IllegalArgumentException](
      LineProtocol.parse(spark.emptyDataset[String], precision = "x"))
    assert(e.getMessage.contains("unknown precision 'x'"))
  }

  /** The splitter as it was first written, one character at a time into a
    * builder: the definition the substring splitter must keep. */
  private def splitByChars(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var escaped = false
    s.foreach { c =>
      if (escaped) { cur.append(c); escaped = false }
      else if (c == '\\') { cur.append(c); escaped = true }
      else if (c == '"') { cur.append(c); inQuotes = !inQuotes }
      else if (c == sep && !inQuotes) { out += cur.result(); cur.clear() }
      else cur.append(c)
    }
    out += cur.result()
    out.result()
  }

  test("the line splitter keeps the char-by-char definition over generated lines") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // separators, escapes, quotes and a trailing backslash are the cases the
    // two definitions could disagree on, so they dominate the alphabet
    val char = Gen.frequency(4 -> Gen.oneOf(' ', ',', '=', '\\', '"', '#'),
      3 -> Gen.oneOf('a', 'b', 'x', '1', '5', '.', 'i', 't'), 1 -> Gen.choose('\u0000', '\u00ff'))
    val line = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, char)).map(_.mkString)
    val typed = Gen.oneOf("""m,t\ a=b\,c f=1.5,g=2i,h=true,s="x\"y z" 17""",
      "m f=1 \\", "# c", "\"a b\" c", "m,k=\\ f=\"\\\"\"")
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(Gen.frequency(9 -> line, 1 -> typed)) { l =>
        Seq(' ', ',', '=').forall(sep => LineProtocol.splitUnescaped(l, sep) == splitByChars(l, sep))
      })
    assert(res.passed, res.status.toString)
  }

  test("result renderer groups series by tags with time first") {
    val df = Seq(("a", 1.0, new java.sql.Timestamp(1000)), ("b", 2.0, new java.sql.Timestamp(2000)))
      .toDF("host", "v", "time")
    val r = ResultRenderer.render(df, "m", Seq("host"))
    assert(r.series.length == 2)
    assert(r.series.head.columns.head == "time")
    val json = ResultRenderer.toJson(r)
    assert(json.contains(""""name":"m"""") && json.contains(""""host":"a""""))
  }

  test("result renderer escapes names, tag keys, columns and values like Go") {
    val r = ResultRenderer.Result(Seq(ResultRenderer.Series(
      "m\"x", Map("k\"ey" -> "two\nlines"), Seq("time", "v<1"), Seq(Seq("a&b")))))
    val json = ResultRenderer.toJson(r)
    // Go's encoding/json bytes for the same models.Result
    assert(json ===
      "{\"series\":[{\"name\":\"m\\\"x\",\"tags\":{\"k\\\"ey\":\"two\\nlines\"}," +
      "\"columns\":[\"time\",\"v\\u003c1\"],\"values\":[[\"a\\u0026b\"]]}]}")
    // and it is valid JSON that reads back to the same strings
    import graft.tick.TickJson._
    val JObj(Seq(("series", JArr(Seq(JObj(fs)))))) = parseJson(json)
    assert(fs.toMap.apply("tags") === JObj(Seq("k\"ey" -> JStr("two\nlines"))))
  }

  test("result renderer writes numbers and times like Go's encoding/json") {
    val r = ResultRenderer.Result(Seq(ResultRenderer.Series(
      "m", Map("host" -> "a"), Seq("time", "mean", "tiny", "n"),
      Seq(Seq(new java.sql.Timestamp(1500), 85.0, 1e-7, 3L)))))
    assert(ResultRenderer.toJson(r) ===
      """{"series":[{"name":"m","tags":{"host":"a"},"columns":["time","mean","tiny","n"],""" +
      """"values":[["1970-01-01T00:00:01.5Z",85,1e-7,3]]}]}""")
  }

  test("sideload overlays most-specific config, falls back to default") {
    val points = Seq(("x", 1L), ("y", 2L), ("z", 3L)).toDF("kind", "id")
    val config = Seq(
      ("x", Map("w" -> "2.0")),
      ("default", Map("w" -> "1.0"))).toDF("key", "values")
    val out = Sideload.sideload(points, Seq(col("kind"), lit("default")), config,
      Map("w" -> lit("0.0")))
      .select("kind", "w").as[(String, String)].collect().toMap
    assert(out == Map("x" -> "2.0", "y" -> "1.0", "z" -> "1.0"))
  }

  test("deadman zero-fills empty intervals and flags them") {
    // group g has points in buckets 0 and 7200 only → 3600 is empty
    val df = Seq(("g", 10L * 1000000), ("g", 7210L * 1000000)).toDF("k", "tus")
    val out = Deadman.deadman(df, "tus", "k", 3600, 0)
      .orderBy("bucket_s")
      .select("bucket_s", "emitted", "level").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((0L, 1L, "OK"), (3600L, 0L, "CRITICAL"), (7200L, 1L, "OK")))
  }

  test("global deadman: the [deadman] config section end-to-end") {
    import Deadman.{parseConfig, parseGoDurationSeconds, GlobalConfig}
    // the reference's own shipped config section parses to its defaults
    val conf = RefFixtures.read("etc/kapacitor/kapacitor.conf")
    val cfg = parseConfig(conf)
    assert((cfg.global, cfg.threshold, cfg.intervalSeconds, cfg.id) ===
      ((false, 0.0, 10L, Deadman.DefaultId)))
    // the shipped conf carries an older "collected"-field message; the
    // CODE default (services/deadman/config.go:17) says "emitted" — the
    // parse is faithful to the file, the default to the code
    assert(cfg.message === Deadman.DefaultMessage.replace("emitted", "collected"))
    assert(parseConfig("") === GlobalConfig())
    // Go duration round-trips
    assert(parseGoDurationSeconds("90s") === 90)
    assert(parseGoDurationSeconds("1m30s") === 90)
    assert(parseGoDurationSeconds("2h") === 7200)
    assert(graft.tick.Cli.goDurationNs(10 * 1000000000L) === "10s")
    assert(graft.tick.Cli.goDurationNs(90 * 1000000000L) === "1m30s")
    assert(graft.tick.Cli.goDurationNs(3600 * 1000000000L) === "1h0m0s")
    // the global branch renders the service id/message templates:
    // NODE_NAME/INTERVAL substituted, if-eq alive/dead, printf %0.3f
    val df = Seq(("g", 10L * 1000000), ("g", 7210L * 1000000)).toDF("k", "tus")
    // the CODE-default message (services/deadman/config.go:17 — "emitted")
    // renders the emitted count through printf %0.3f
    val out = Deadman.global(df, "tus", "k",
      cfg.copy(global = true, intervalSeconds = 3600,
        message = Deadman.DefaultMessage), taskName = "t1")
      .orderBy("bucket_s")
      .select("bucket_s", "id", "message").as[(Long, String, String)]
      .collect().toSeq
    assert(out.forall(_._2 === "node 'stream0' in task 't1'"))
    assert(out(0)._3 ===
      "node 'stream0' in task 't1' is alive: 1.000 points/1h0m0s.")
    assert(out(1)._3 ===
      "node 'stream0' in task 't1' is dead: 0.000 points/1h0m0s.")
    // the SHIPPED conf's message says "collected" (an older field name) —
    // that key is absent from the emitted-count point, and a missing
    // index renders EMPTY (never java.util.Formatter's "nul" for a null
    // arg under precision)
    val shipped = Deadman.global(df, "tus", "k",
      cfg.copy(global = true, intervalSeconds = 3600), taskName = "t1")
      .orderBy("bucket_s")
      .select("message").as[String].collect().toSeq
    assert(shipped(0) ===
      "node 'stream0' in task 't1' is alive:  points/1h0m0s.")
  }

  test("brpl/srpl replay fixtures from the reference parse into point frames") {
    import graft.sources.Replay
    val brpl = Replay.readBrpl(spark,
      RefFixtures.testdata("TestBatch_ChangeDetect.0.brpl"))
    assert(brpl.count() > 0)
    assert(brpl.columns.toSeq == Seq("batch_idx", "name", "tags", "time", "fields"))
    assert(brpl.select("batch_idx").distinct().count() >= 1) // one idx per JSON doc
    assert(brpl.select("name").distinct().as[String].collect().toSet == Set("packets"))
    assert(brpl.select(expr("fields['value']")).as[String].collect().toSet.contains("good"))

    val srplFiles = new java.io.File(RefFixtures.path("integrations/testdata"))
      .listFiles().filter(_.getName.endsWith(".srpl"))
    assert(srplFiles.nonEmpty)
    val srpl = Replay.readSrpl(spark, srplFiles.head.getAbsolutePath)
    assert(srpl.count() > 0)
    assert(srpl.columns.contains("db") && srpl.columns.contains("measurement"))
  }

  test("salted aggregation equals the direct aggregation") {
    val df = (1 to 1000).map(i => (if (i <= 990) "hot" else s"k$i", i.toDouble))
      .toDF("k", "v")
    val salted = graft.operators.Salt.saltedSumCount(df, "k", "v", 8)
      .select("k", "sum_v", "cnt").as[(String, Double, Long)].collect()
      .map { case (k, s2, c) => k -> ((s2, c)) }.toMap
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .as[(String, Double, Long)].collect()
      .map { case (k, s2, c) => k -> ((s2, c)) }.toMap
    assert(salted == direct)
  }

  test("alert templates compile to a single concat column") {
    val df = Seq(("id1", "CRITICAL", Map("v" -> "42"))).toDF("id", "lvl", "fields")
    val msg = AlertTemplates.compile(
      """{{ .ID }}: level {{ .Level }} value={{ index .Fields "v" }}!""",
      scope = Map("ID" -> col("id"), "Level" -> col("lvl")),
      fields = Some(col("fields")))
    assert(df.select(msg).as[String].head() == "id1: level CRITICAL value=42!")
  }

  test("alert template unknown vars render empty") {
    val df = Seq(1).toDF("x")
    val msg = AlertTemplates.compile("a{{ .Nope }}b", Map.empty)
    assert(df.select(msg).as[String].head() == "ab")
  }
}
