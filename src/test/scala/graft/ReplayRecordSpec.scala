package graft

import graft.sources.{LineProtocol, Replay}
import graft.sources.LineProtocol.LinePoint
import org.apache.spark.sql.functions._

/** The recording half of the replay service
  * (services/replay/service.go doRecordStream/doRecordBatch via
  * replay.go WritePointForRecording/WriteBatchForRecording): write →
  * read round-trips, wire-format vectors, fork filtering, and the
  * record→replay ≡ direct pipeline law. */
class ReplayRecordSpec extends SparkSpec {

  private def tmp(ext: String): String =
    java.io.File.createTempFile("graft_rec", ext).getAbsolutePath

  test("pointLine canonical vectors (models point marshal)") {
    assert(Replay.pointLine(LinePoint("cpu", Map("host" -> "serverA", "type" -> "idle"),
      Map("value" -> 97.1), Map(), Map(), Map(), 1L)) ===
      "cpu,host=serverA,type=idle value=97.1 1")
    // integral float has no .0; tags sort by key; ints carry i
    assert(Replay.pointLine(LinePoint("disk", Map("b" -> "2", "a" -> "1"),
      Map("used" -> 39.0), Map("free" -> 7L), Map(), Map(), 5L)) ===
      "disk,a=1,b=2 free=7i,used=39 5")
    // identifier escapes + quoted strings + bools
    assert(Replay.pointLine(LinePoint("my measure", Map("ta g" -> "v,1"),
      Map(), Map(), Map("ok" -> true), Map("msg" -> "say \"hi\"\\"), 9L)) ===
      """my\ measure,ta\ g=v\,1 msg="say \"hi\"\\",ok=true 9""")
  }

  test("srpl write → readSrpl round-trip on a generated stream") {
    val sparkS = spark
    import sparkS.implicits._
    val pts = (1 to 50).map(i => Replay.RecordedPoint("dbname", "rpname",
      LinePoint("cpu", Map("host" -> s"h${i % 3}"),
        Map("value" -> (i * 1.5)), Map("n" -> i.toLong), Map(), Map(),
        i * 1000000000L)))
    val path = tmp(".srpl")
    Replay.writeSrpl(pts.toDS(), path)
    val back = Replay.readSrpl(spark, path)
      .select("db", "rp", "measurement", "tags", "fieldsFloat", "fieldsInt", "ts_ns")
      .as[(String, String, String, Map[String, String], Map[String, Double],
        Map[String, Long], Long)]
      .collect().sortBy(_._7)
    assert(back.length === 50)
    assert(back.toSeq === pts.map(p => ("dbname", "rpname", "cpu", p.point.tags,
      p.point.fieldsFloat, p.point.fieldsInt, p.point.timeNs)))
  }

  test("recording a reference fixture is parse-stable (record∘parse idempotent)") {
    val sparkS = spark
    import sparkS.implicits._
    val fixture = RefFixtures.testdata("TestStream_Alert.srpl")
    def frame(path: String) = Replay.readSrpl(spark, path)
      .select("db", "rp", "measurement", "tags", "fieldsFloat", "ts_ns")
      .as[(String, String, String, Map[String, String], Map[String, Double], Long)]
      .collect().toSeq
    def record(path: String): String = {
      val pts = Replay.readSrpl(spark, path)
        .orderBy(col("ts_ns"), col("measurement"), element_at(col("tags"), "host"))
        .select("db", "rp", "measurement", "tags", "fieldsFloat", "fieldsInt",
          "fieldsBool", "fieldsStr", "ts_ns")
        .as[(String, String, String, Map[String, String], Map[String, Double],
          Map[String, Long], Map[String, Boolean], Map[String, String], Long)]
        .map { case (db, rp, m, t, ff, fi, fb, fs, ts) =>
          Replay.RecordedPoint(db, rp, LinePoint(m, t, ff, fi, fb, fs, ts)) }
      val out = tmp(".srpl")
      Replay.writeSrpl(pts, out)
      out
    }
    val rec1 = record(fixture)
    // same frame back (the fixture's hand-padded spacing canonicalizes away)
    assert(frame(rec1).sortBy(_._6) === frame(fixture).sortBy(_._6))
    // and the canonical form is a fixed point: re-recording is byte-equal
    val rec2 = record(rec1)
    val b1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(rec1))
    val b2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(rec2))
    assert(java.util.Arrays.equals(b1, b2), "canonical srpl not a fixed point")
  }

  test("forkFilter: dbrp + measurement routing + stop bound (service.go:1280-1310)") {
    val sparkS = spark
    import sparkS.implicits._
    val pts = Seq(
      Replay.RecordedPoint("db1", "rp1", LinePoint("cpu", Map(), Map("v" -> 1.0), Map(), Map(), Map(), 10L)),
      Replay.RecordedPoint("db1", "rp1", LinePoint("mem", Map(), Map("v" -> 2.0), Map(), Map(), Map(), 20L)),
      Replay.RecordedPoint("db2", "rp1", LinePoint("cpu", Map(), Map("v" -> 3.0), Map(), Map(), Map(), 30L)),
      Replay.RecordedPoint("db1", "rp1", LinePoint("cpu", Map(), Map("v" -> 4.0), Map(), Map(), Map(), 99L))).toDS()
    val got = Replay.forkFilter(pts, Seq(("db1", "rp1")), Seq("cpu"), stopNs = 50L)
      .collect().map(_.point.fieldsFloat("v")).sorted
    assert(got.toSeq === Seq(1.0))
  }

  test("brpl write → readBrpl round-trip + RFC3339Nano vectors") {
    val sparkS = spark
    import sparkS.implicits._
    assert(Replay.rfc3339Nano(0L) === "1970-01-01T00:00:00Z")
    assert(Replay.rfc3339Nano(1446225252000000000L) === "2015-10-30T17:14:12Z")
    assert(Replay.rfc3339Nano(1446225252120000000L) === "2015-10-30T17:14:12.12Z")
    assert(Replay.rfc3339Nano(1446225252000000001L) === "2015-10-30T17:14:12.000000001Z")

    val batches = Seq(
      Replay.RecordedBatch("cpu_usage_idle", 1446225260000000000L,
        tags = Map("cpu" -> "cpu-total"),
        points = (0 until 5).map(i => LinePoint("", Map("cpu" -> "cpu-total"),
          Map("mean" -> (90.0 + i * 0.25)), Map(), Map(), Map(),
          1446225252000000000L + i * 2000000000L))),
      Replay.RecordedBatch("cpu_usage_idle", 1446225270000000000L,
        tags = Map("cpu" -> "cpu0"),
        points = Seq(LinePoint("", Map("cpu" -> "cpu0"),
          Map("mean" -> 86.5), Map(), Map(), Map(), 1446225262000000000L))))
    val path = tmp(".brpl")
    Replay.writeBrpl(batches.toDS(), path)
    val back = Replay.readBrpl(spark, path)
    assert(back.count() === 6)
    val byBatch = back.groupBy("batch_idx").count().orderBy("batch_idx")
      .as[(Int, Long)].collect().toSeq
    assert(byBatch === Seq((0, 5L), (1, 1L)), "batch boundaries preserved")
    val first = back.filter(col("batch_idx") === 0)
      .orderBy("time").select("name", "tags", "fields").as[(String, Map[String, String], Map[String, String])].collect()
    // Go json renders the integral float as "90", not "90.0"
    assert(first.head === (("cpu_usage_idle", Map("cpu" -> "cpu-total"), Map("mean" -> "90"))))
  }

  test("brplDoc matches the Go json.Encoder wire shape") {
    val doc = Replay.brplDoc(Replay.RecordedBatch(
      "m", 1446225252000000000L, tags = Map("t" -> "x"),
      points = Seq(LinePoint("", Map("t" -> "x"),
        Map("mean" -> 90.5), Map("n" -> 3L), Map("ok" -> true), Map("s" -> "hi"),
        1446225252000000000L))))
    assert(doc ===
      """{"name":"m","tmax":"2015-10-30T17:14:12Z","tags":{"t":"x"},""" +
      """"points":[{"fields":{"mean":90.5,"n":3,"ok":true,"s":"hi"},""" +
      """"tags":{"t":"x"},"time":"2015-10-30T17:14:12Z"}]}""" + "\n")
    // empty name/tags/points omitted; zero tmax is Go's zero time
    assert(Replay.brplDoc(Replay.RecordedBatch("", Replay.GoZeroTimeNs)) ===
      """{"tmax":"0001-01-01T00:00:00Z"}""" + "\n")
    // Go's json.Encoder HTML-escapes by default: <, >, & become \u00xx
    val esc = Replay.brplDoc(Replay.RecordedBatch(
      "a<b", Replay.GoZeroTimeNs, tags = Map("k" -> "x&y")))
    assert(esc ===
      "{\"name\":\"a\\u003cb\",\"tmax\":\"0001-01-01T00:00:00Z\"," +
      "\"tags\":{\"k\":\"x\\u0026y\"}}\n")
    // and the Spark-side reader decodes them back (standard JSON escapes)
    val path2 = tmp(".brpl")
    val fw = new java.io.FileWriter(path2); fw.write(esc +
      """{"name":"c>d","tmax":"2015-10-30T17:14:12Z","points":[{"fields":{"s":"p>q"},"time":"2015-10-30T17:14:12Z"}]}""" + "\n")
    fw.close()
    val rows = Replay.readBrpl(spark, path2).collect()
    assert(rows.exists(_.getString(1) == "c>d"))
    assert(rows.find(_.getString(1) == "c>d").get
      .getMap[String, String](4)("s") == "p>q")
  }

  test("brplDoc escapes a newline in a string field as \\n, like Go") {
    val doc = Replay.brplDoc(Replay.RecordedBatch("m", Replay.GoZeroTimeNs,
      points = Seq(LinePoint("", Map.empty, Map.empty, Map.empty, Map.empty,
        Map("s" -> "two\nlines"), 0L))))
    assert(doc.contains("\"s\":\"two\\nlines\""), doc)
  }

  test("record → replay ≡ direct: a windowed aggregate on both paths") {
    val sparkS = spark
    import sparkS.implicits._
    // a generated "live" stream
    val live = (0 until 600).map(i => Replay.RecordedPoint("dbname", "rpname",
      LinePoint("cpu", Map("host" -> s"h${i % 2}"),
        Map("value" -> ((i % 17) * 1.0)), Map(), Map(), Map(),
        i * 1000000000L)))
    val path = tmp(".srpl")
    Replay.writeSrpl(live.toDS(), path)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("tags")("host").as("host"),
        expr("ts_ns DIV 60000000000").as("w"))
      .agg(sum(col("fieldsFloat")("value")).as("s"), count(lit(1)).as("n"))
      .as[(String, Long, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val direct = agg(live.toDS()
      .select(col("point.tags").as("tags"), col("point.fieldsFloat").as("fieldsFloat"),
        col("point.timeNs").as("ts_ns")))
    val replayed = agg(Replay.readSrpl(spark, path))
    assert(replayed === direct)
  }
}
