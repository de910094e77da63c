package graft

import graft.api.Pipe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch ≡ streaming parity for the three operators whose batch forms are
  * closed-form DataFrame plans: windowAligned (aligned sliding-window agg),
  * combineK over a pair (stream-stream SELF-join on the tolerance
  * bucket), and joinMulti (two-stream tolerance join). Each case drives a REAL
  * Structured Streaming query (MemoryStream → watermark → append sink) and
  * compares its finalized output set against the batch operator over the
  * same rows. */
case class ParityP(group: String, timeUs: Long, value: Double, pid: Long)

class StreamingParitySpec extends SparkSpec {
  import spark.implicits._

  private val us = 1000000L
  private type P = ParityP
  private val P = ParityP

  test("windowAligned(6,2,fillPeriod) ≡ streaming aligned sliding-window agg") {
    implicit val ctx = spark.sqlContext
    // dense per-second points so every boundary in range is armed — the
    // regime where the batch arming rule and the epoch-aligned streaming
    // window grid coincide (sparse-arming corners are pinned against
    // WindowFSM in PropertySpec)
    val rows = (0L until 20L).map(t => P("g", t * us, t.toDouble, t))
    val df = rows.toDF().withColumn("time", timestamp_micros($"timeUs"))
    val batch = Pipe(df, "time", Seq("group"))
      .windowAligned(6, 2, fillPeriod = true).df
      .groupBy($"group", $"wemit_s")
      .agg(count(lit(1)).as("cnt"), sum($"value").as("sv"))
      .select($"group", $"wemit_s", $"cnt", $"sv")
      .as[(String, Long, Long, Double)].collect().toSet

    val ms = MemoryStream[P]
    val stream = ms.toDS().toDF()
      .withColumn("time", timestamp_micros($"timeUs"))
      .withWatermark("time", "0 seconds")
      .groupBy($"group", window($"time", "6 seconds", "2 seconds").as("w"))
      .agg(count(lit(1)).as("cnt"), sum($"value").as("sv"))
      .select($"group", unix_timestamp($"w.end").as("wemit_s"), $"cnt", $"sv")
    val q = stream.writeStream.format("memory").queryName("wa_par")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      // sentinel far in the future advances the watermark so every real
      // window finalizes; its own windows are filtered below
      ms.addData(Seq(P("zz", 10000L * us, 0.0, 999L)))
      q.processAllAvailable()
      val streamed = spark.table("wa_par")
        .filter($"group" === "g")
        .select($"group", $"wemit_s", $"cnt", $"sv")
        .as[(String, Long, Long, Double)].collect().toSet
      val batchBoundaries = batch.map(_._2)
      // every batch-emitted boundary matches the streaming window exactly
      assert(streamed.filter(r => batchBoundaries.contains(r._2)) == batch)
      // streaming extras are exactly the leading partials fillPeriod
      // suppresses (boundaries before the first full-period one, = 8 here)
      // and trailing windows past the last point (batch requires a point
      // at or after the boundary)
      val extras = streamed.filterNot(r => batchBoundaries.contains(r._2))
      assert(extras.forall(r =>
        r._2 < batchBoundaries.min || r._2 > batchBoundaries.max), extras.toString)
      assert(batchBoundaries.min == 8L && batchBoundaries.max == 18L)
    } finally q.stop()
  }

  test("combinePairs ≡ streaming stream-stream self-join on the tolerance bucket") {
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      P("A", 10 * us, 1.0, 1), P("A", 11 * us, 2.0, 2), P("A", 12 * us, 3.0, 3),
      P("A", 16 * us, 4.0, 4),
      P("B", 10 * us, 5.0, 5), P("B", 13 * us, 6.0, 6))
    val df = rows.toDF().withColumn("time", timestamp_micros($"timeUs"))
    val batch = Pipe(df, "time", Seq("group"), idCol = Some("pid"))
      .combineK(Seq(lit(true), lit(true)), 5, Seq("a", "b"))
      .select($"group", $"bucket_s", $"a_pid", $"b_pid", $"a_value", $"b_value")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSet

    val ms = MemoryStream[P]
    def side(nm: String) = ms.toDS().toDF()
      .withColumn("time", timestamp_micros($"timeUs"))
      .withWatermark("time", "0 seconds")
      .withColumn("bucket_s",
        (floor(unix_micros($"time") / 1000000.0 / 5) * 5).cast("long"))
      .select($"group", $"bucket_s", $"pid".as(s"${nm}_pid"),
        $"value".as(s"${nm}_value"))
    val joined = side("a").join(side("b"), Seq("group", "bucket_s"))
      .filter($"a_pid" < $"b_pid")
    val q = joined.writeStream.format("memory").queryName("cp_par")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("cp_par")
        .select($"group", $"bucket_s", $"a_pid", $"b_pid", $"a_value", $"b_value")
        .as[(String, Long, Long, Long, Double, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && batch.size == 4) // A@10s: 3 pairs, B@10s: 1
    } finally q.stop()
  }

  test("joinMulti ≡ streaming two-stream tolerance join") {
    implicit val ctx = spark.sqlContext
    val errs = Seq(
      P("cart", 10 * us, 7.0, 1), P("cart", 12 * us, 9.0, 2),
      P("login", 11 * us, 3.0, 3))
    val views = Seq(
      P("cart", 10 * us, 700.0, 4), P("cart", 13 * us, 900.0, 5),
      P("login", 11 * us, 300.0, 6))
    def pipeOf(rs: Seq[P]) = Pipe(
      rs.toDF().withColumn("time", timestamp_micros($"timeUs"))
        .select($"time", $"group".as("service"), $"value"),
      "time", Seq("service"))
    val batch = pipeOf(errs).joinMulti("errors", Seq((pipeOf(views), "views")),
        toleranceSeconds = 2, on = Seq("service"), fill = Pipe.FillNone)
      .select($"service", $"jt_us", $"errors_value", $"views_value")
      .as[(String, Long, Double, Double)].collect().toSet

    val mErr = MemoryStream[P]
    val mView = MemoryStream[P]
    // the same Go-round bucket joinMulti keys on: floor(t/tol + 0.5) * tol
    def side(ms: MemoryStream[P], nm: String) = ms.toDS().toDF()
      .withColumn("time", timestamp_micros($"timeUs"))
      .withWatermark("time", "0 seconds")
      .withColumn("jt_us",
        (floor(unix_micros($"time") / 1000000.0 / 2 + 0.5) * 2 * 1000000L).cast("long"))
      .select($"jt_us", $"group".as("service"), $"value".as(s"${nm}_value"))
    val joined = side(mErr, "errors").join(side(mView, "views"), Seq("jt_us", "service"))
    val q = joined.writeStream.format("memory").queryName("jm_par")
      .outputMode("append").start()
    try {
      mErr.addData(errs)
      mView.addData(views)
      q.processAllAvailable()
      val streamed = spark.table("jm_par")
        .select($"service", $"jt_us", $"errors_value", $"views_value")
        .as[(String, Long, Double, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("source-overlap increments over a document stream sum to the batch matrix") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.SourceOverlapStream
    import graft.streaming.SourceOverlapStream.HashObs
    val docs = Seq(
      (1L, "common page", "a"), (2L, "unique a", "a"),
      (3L, "common page", "b"), (4L, "also shared", "b"),
      (5L, "also shared", "c"), (6L, "common page", "c"),
      (7L, "unique c", "c"), (8L, "common page", "a")) // re-observation: no emit
    val batch = graft.llm.Report.sourceOverlap(
        docs.toDF("doc_id", "text", "source"), "text", "source")
      .select("src_a", "src_b", "overlap")
      .as[(String, String, Long)].collect().toSet

    val ms = MemoryStream[(Long, String, String)]
    val occ = ms.toDS().toDF("doc_id", "text", "source")
      .select(graft.llm.TextOps.h60($"text").as("th"), $"source")
      .as[HashObs]
    val q = SourceOverlapStream.pairIncrements(occ)
      .toDF().writeStream.format("memory").queryName("ovl_par")
      .outputMode("update").start()
    try {
      ms.addData(docs.take(3))
      q.processAllAvailable()
      ms.addData(docs.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("ovl_par")
        .groupBy($"srcA", $"srcB").count()
        .as[(String, String, Long)].collect().toSet
      assert(streamed === batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("paragraph dedup over a document stream ≡ the batch operator (block registry)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.ParagraphDedupStream
    import graft.streaming.ParagraphDedupStream.ParaOcc
    val docs = Seq(
      (1L, "alpha one\nSHARED BLOCK\nalpha two"),
      (2L, "beta one\nSHARED BLOCK\nbeta two\nSHARED BLOCK"),
      (3L, "gamma\n\nSHARED BLOCK\nunique gamma"),
      (4L, "all original\nnothing shared"))
    val batch = graft.llm.Dedup.dedupParagraphs(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "text").as[(Long, String)].collect().toMap

    val ms = MemoryStream[(Long, String)]
    val occ = graft.llm.Dedup.paragraphOccurrences(
        ms.toDS().toDF("doc_id", "text"), "doc_id", "text")
      .filter($"__ph".isNotNull)
      .select($"doc_id".as("docId"), $"p_idx".as("pIdx"), $"__ph".as("ph"))
      .as[ParaOcc]
    val q = ParagraphDedupStream.badParagraphs(occ)
      .toDF().writeStream.format("memory").queryName("para_par")
      .outputMode("update").start()
    try {
      // id order across micro-batches reproduces the batch min-id rule
      ms.addData(Seq(docs.head))
      q.processAllAvailable()
      ms.addData(docs.tail)
      q.processAllAvailable()
      val flagged = spark.table("para_par")
        .as[(Long, Int)].collect().toSet
      val rebuilt = docs.map { case (id, text) =>
        id -> text.split("\n", -1).zipWithIndex
          .filterNot { case (_, i) => flagged((id, i)) }
          .map(_._1).mkString("\n")
      }.toMap
      assert(rebuilt === batch)
      // every copy outside the claiming doc is flagged, intra-doc
      // repeats of a non-keeper included
      assert(flagged === Set((2L, 1), (2L, 3), (3L, 2)))
    } finally q.stop()
  }

  test("stats ticker ≡ streaming fill-forward fold (as-of values at each fire)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.StatsEmitStream
    import graft.streaming.StatsEmitStream.StatObs
    // key a observes at 2s/7s/23s; key b first observes at 11s; 5s ticker
    val rows = Seq(P("a", 2L * us, 1.0, 1), P("a", 7L * us, 2.0, 2),
      P("a", 23L * us, 3.0, 3), P("b", 11L * us, 10.0, 4))
    val obsDf = rows.toDF().select($"timeUs".as("time_us"),
      $"group".as("key"), $"value")
    val bounds = obsDf.agg(min("time_us").as("mn"), max("time_us").as("mx"))
    val batch = graft.sources.StatsEmit.statsPoints(obsDf, Seq("key"),
        graft.sources.StatsEmit.tickGrid(bounds, 5L * us))
      .select($"time_us", $"key", $"value")
      .as[(Long, String, Double)].collect().toSet
    assert(batch === Set(
      (5L * us, "a", 1.0), (10L * us, "a", 2.0), (15L * us, "a", 2.0),
      (20L * us, "a", 2.0), (15L * us, "b", 10.0), (20L * us, "b", 10.0)))

    val ms = MemoryStream[P]
    val stream = StatsEmitStream.statsPoints(
      ms.toDS().toDF()
        .withColumn("time", timestamp_micros($"timeUs"))
        .withWatermark("time", "0 seconds")
        .select($"group".as("key"), $"timeUs", $"value", $"time")
        .as[StatObs],
      intervalUs = 5L * us)
    val q = stream.toDF().writeStream.format("memory").queryName("stats_par")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      // two sentinels: the first advances the watermark past the data,
      // the second triggers the timed-out groups to drain their fires
      ms.addData(Seq(P("zz", 40L * us, 0.0, 9)))
      q.processAllAvailable()
      ms.addData(Seq(P("zz", 60L * us, 0.0, 9)))
      q.processAllAvailable()
      val streamed = spark.table("stats_par")
        .filter($"key".isin("a", "b") && $"fireUs" <= 23L * us)
        .select($"fireUs", $"key", $"value")
        .as[(Long, String, Double)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("aggregate topic handler ≡ streaming tumbling-window fold") {
    implicit val ctx = spark.sqlContext
    // events across three 10 s intervals; bucket 1 left empty
    val rows = Seq((1L, 3, 500L, "a"), (4L, 1, 900L, "b"), (9L, 2, 100L, "c"),
      (21L, 0, 50L, "d"), (25L, 3, 800L, "e"))
      .map { case (t, l, d, m) => P(m, t * us, l.toDouble, d) }
    def evFrame(df: org.apache.spark.sql.DataFrame) = df.select(
      $"timeUs".as("time_us"), $"value".cast("int").as("level"),
      $"pid".as("duration_us"), $"group".as("message"))
    val batch = graft.streaming.AlertTopics.aggregateEvents(
        evFrame(rows.toDF()), intervalUs = 10L * us, aggId = "agg",
        outTopic = "out")
      .as[(String, String, Long, Int, Long, String, String, Boolean)]
      .collect().toSet

    val ms = MemoryStream[P]
    val stream = graft.streaming.AlertTopics.aggregateEventsStream(
      ms.toDS().toDF()
        .withColumn("time", timestamp_micros($"timeUs"))
        .select($"time", $"value".cast("int").as("level"),
          $"pid".as("duration_us"), $"group".as("message")),
      intervalUs = 10L * us, aggId = "agg", outTopic = "out")
    val q = stream.writeStream.format("memory").queryName("agg_par")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      // watermark sentinel closes every real window
      ms.addData(Seq(P("zzz", 1000L * us, 0.0, 0L)))
      q.processAllAvailable()
      val streamed = spark.table("agg_par")
        .filter($"time_us" < 900L * us)
        .as[(String, String, Long, Int, Long, String, String, Boolean)]
        .collect().toSet
      assert(streamed === batch)
      assert(batch.map(_._6) === Set(
        "Received 3 events in the last 10s.",
        "Received 2 events in the last 10s."))
    } finally q.stop()
  }

  test("alert handler chain ≡ streaming: slack + opsGenie2 payload bytes match") {
    // The reference fires handlers from the streaming FSM (alert.go:874-913)
    // with the same rendered payloads the batch path carries. The SAME
    // TickScript — a 2-handler chain — compiles onto both a batch frame and
    // a MemoryStream; the streaming query (complete mode: the tumbling
    // bucket is a plain grouping column) must emit byte-identical
    // payload_slack / payload_opsGenie2 columns.
    implicit val ctx = spark.sqlContext
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
        |		.slack()
        |			.channel('#alerts')
        |		.opsGenie2()
        |			.teams('rocket')
        |""".stripMargin
    val rows = for (h <- Seq("serverA", "serverB"); t <- 0L until 20L)
      yield ("cpu", h, t, 1.0)
    val mk = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("time", timestamp_seconds($"t"))
      .select($"measurement", $"time", $"host", $"value")
    val batchDf = mk(rows.toDF("measurement", "host", "t", "value"))
    val cols = Seq("host", "bucket_s", "level", "id", "payload_slack", "payload_opsGenie2")
    val batch = graft.tick.TickScript.compile(script, batchDf)
      .select(cols.map(col): _*)
      .as[(String, Long, Int, String, String, String)].collect().toSet

    val ms = MemoryStream[(String, String, Long, Double)]
    val streamDf = mk(ms.toDS().toDF("measurement", "host", "t", "value"))
    val out = graft.tick.TickScript.compile(script, streamDf)
      .select(cols.map(col): _*)
    val q = out.writeStream.format("memory").queryName("hc_par")
      .outputMode("complete").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("hc_par")
        .as[(String, Long, Int, String, String, String)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && batch.forall(_._3 == 3)) // both windows CRITICAL
      val a0 = batch.find(r => r._1 == "serverA" && r._2 == 0L).get
      assert(a0._4 == "kapacitor/cpu/serverA")
      assert(a0._5.contains(""""channel":"#alerts"""") &&
        a0._5.contains("kapacitor/cpu/serverA is CRITICAL"))
      assert(a0._6.contains(""""responders":[{"name":"rocket","type":"team"}]""") ||
        a0._6.contains("rocket")) // opsgenie2 team rides the payload
    } finally q.stop()
  }

  test("minhash near-dup pairs ≡ incremental streaming LSH over the same signatures") {
    // the batch self-join (Dedup.minhashLsh) and the streaming bucket-state
    // detector (DedupStream.nearDupPairs) consume the SAME signatureBands
    // front-end and must report the identical pair set — streamed across
    // two micro-batches so cross-batch state is exercised
    implicit val ctx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely different content about spark structured streaming state"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (5L, "unrelated text regarding connected components over pair graphs"))
      .toDF("doc_id", "text")
    val batch = graft.llm.Dedup.minhashLsh(docs, "doc_id", "text")
      .select($"id_a", $"id_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet

    val sigRows = graft.llm.Dedup.signatureBands(docs, "doc_id", "text")
      .select($"doc_id".as("docId"), $"band", $"bh", $"sig")
      .as[graft.streaming.DedupStream.BandedSig].collect().toSeq
    val ms = MemoryStream[graft.streaming.DedupStream.BandedSig]
    val q = graft.streaming.DedupStream.nearDupPairs(ms.toDS(), k = 16, threshold = 0.5)
      .writeStream.format("memory").queryName("dd_par").outputMode("update").start()
    try {
      val (first, second) = sigRows.partition(_.docId <= 2)
      ms.addData(first)
      q.processAllAvailable()
      ms.addData(second) // doc 4's twin (doc 1) arrived in the PREVIOUS batch
      q.processAllAvailable()
      val streamed = spark.table("dd_par")
        .select($"idA", $"idB", $"estJaccard").distinct() // cross-band repeats
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0)) // exact twin
      assert(batch.exists(p => p._1 == 1L && p._2 == 2L)) // near-dup
    } finally q.stop()
  }

  test("span dedup over a document stream ≡ the batch aggregate (gram-registry state)") {
    // the batch min/max aggregate (Dedup.spanBadPositions) and the
    // streaming gram registry (SpanDedupStream.badPositions) consume the
    // SAME positionalGrams front-end and must flag identical positions
    // under in-order arrival — streamed across two micro-batches so a
    // later batch hits grams claimed in an earlier one
    implicit val ctx = spark.sqlContext
    val boiler = "all rights reserved contact the site admin for license terms"
    val docs = Seq(
      (1L, s"alpha body with its own words here today $boiler"),
      (4L, s"totally different second body text goes right here now $boiler"),
      (7L, s"$boiler and then some trailing content of its very own"),
      (9L, "an unrelated document stands completely alone in this corpus"))
      .toDF("doc_id", "text")
    val batch = graft.llm.Dedup.spanBadPositions(docs, "doc_id", "text", n = 8)
      .select($"doc_id", explode($"badPos").as("pos"))
      .as[(Long, Int)].collect().toSet
    assert(batch == Set((4L, 10), (4L, 11), (4L, 12), (7L, 1), (7L, 2), (7L, 3)))
    val occ = graft.llm.Decontaminate.positionalGrams(docs, "doc_id", "text", 8)
      .select($"doc_id".as("docId"), $"pos", $"gram")
      .as[graft.streaming.SpanDedupStream.GramOcc].collect().toSeq
    val ms = MemoryStream[graft.streaming.SpanDedupStream.GramOcc]
    val q = graft.streaming.SpanDedupStream.badPositions(ms.toDS())
      .writeStream.format("memory").queryName("sd_par").outputMode("update").start()
    try {
      val (first, rest) = occ.partition(_.docId <= 4)
      ms.addData(first)
      q.processAllAvailable()
      ms.addData(rest) // doc 7's boilerplate was claimed in the PREVIOUS batch
      q.processAllAvailable()
      val streamed = spark.table("sd_par")
        .select($"docId", $"pos").as[(Long, Int)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("span dedup out-of-order arrival: a valid keep-one, NOT the batch min-id rule") {
    // the documented arrival-order contract (SpanDedupStream.badPositions):
    // streaming awards a gram to its FIRST arrival, so feeding doc 7 before
    // docs 1 and 4 flags THEIR boilerplate instead of doc 7's — exactly one
    // copy still survives per gram, but it is not the min-id survivor
    implicit val ctx = spark.sqlContext
    val boiler = "all rights reserved contact the site admin for license terms"
    val docs = Seq(
      (1L, s"alpha body with its own words here today $boiler"),
      (4L, s"totally different second body text goes right here now $boiler"),
      (7L, s"$boiler and then some trailing content of its very own"))
      .toDF("doc_id", "text")
    val batch = graft.llm.Dedup.spanBadPositions(docs, "doc_id", "text", n = 8)
      .select($"doc_id", explode($"badPos").as("pos"))
      .as[(Long, Int)].collect().toSet
    val occ = graft.llm.Decontaminate.positionalGrams(docs, "doc_id", "text", 8)
      .select($"doc_id".as("docId"), $"pos", $"gram")
      .as[graft.streaming.SpanDedupStream.GramOcc].collect().toSeq
    val ms = MemoryStream[graft.streaming.SpanDedupStream.GramOcc]
    val q = graft.streaming.SpanDedupStream.badPositions(ms.toDS())
      .writeStream.format("memory").queryName("sd_ooo").outputMode("update").start()
    try {
      val (late, early) = occ.partition(_.docId == 7L)
      ms.addData(late) // doc 7 arrives FIRST and claims the boilerplate
      q.processAllAvailable()
      ms.addData(early)
      q.processAllAvailable()
      val streamed = spark.table("sd_ooo")
        .select($"docId", $"pos").as[(Long, Int)].collect().toSet
      // not the min-id outcome (batch flags doc 7's copy, keeping doc 1's)
      assert(batch.exists(_._1 == 7L) && !streamed.exists(_._1 == 7L))
      assert(streamed !== batch)
      // but still a valid keep-one: docs 1 and 4 are flagged on the
      // boilerplate span, doc 7 (the first arrival) survives unflagged
      assert(streamed.map(_._1) === Set(1L, 4L))
      // same number of flags either way: each non-survivor copy of the
      // 10-word boilerplate carries the same 3 pure-boilerplate grams
      assert(streamed.size === batch.size)
    } finally q.stop()
  }

  test("decontamination over a document stream ≡ the batch operator (stream-static join)") {
    // the benchmark side is static by nature; the corpus side streams —
    // Decontaminate's plan (explode → broadcast join → per-pair agg) runs
    // unchanged as a Structured Streaming query in update mode
    implicit val ctx = spark.sqlContext
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val docRows = Seq(
      (10L, "intro words alpha beta gamma delta epsilon zeta eta theta outro"),
      (11L, "completely different content with no shared spans at all here"),
      (12L, "more text alpha beta gamma delta epsilon zeta closing words"))
    val batch = graft.llm.Decontaminate
      .contamination(docRows.toDF("doc_id", "text"), bench, "doc_id", "text",
        n = 5, minOverlap = 2L)
      .as[(Long, Long, Long)].collect().toSet

    val ms = MemoryStream[(Long, String)]
    val q = graft.llm.Decontaminate
      .contamination(ms.toDS().toDF("doc_id", "text"), bench, "doc_id", "text",
        n = 5, minOverlap = 2L)
      .writeStream.format("memory").queryName("decon_par")
      .outputMode("update").start()
    try {
      val (first, second) = docRows.partition(_._1 <= 10L)
      ms.addData(first)
      q.processAllAvailable()
      ms.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("decon_par")
        .as[(Long, Long, Long)].collect()
        .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSet // update mode re-emits
      assert(streamed == batch && batch.nonEmpty, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("perplexity scoring + chunking over a document stream ≡ batch (stateless map ops)") {
    // the unigram model trains in batch (one aggregation + bounded
    // collect); SCORING is a pure per-row fold against the literal map, so
    // the same plan runs unchanged over a stream — the CCNet deployment
    // shape: train offline, filter the firehose. chunkDocs is likewise a
    // per-row explode.
    implicit val ctx = spark.sqlContext
    val histRows = Seq((0L, "a a b c"), (1L, "a b d"), (2L, "c c a"))
    val hist = histRows.toDF("doc_id", "text")
    val model = graft.llm.LangModel.unigramTrain(hist, "text", topV = 3)
    val liveRows = Seq((10L, "a b zz c"), (11L, "d d a"), (12L, "qq"))
    val batchScores = graft.llm.LangModel
      .avgNll(liveRows.toDF("doc_id", "text"), "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().toSet
    val batchChunks = graft.llm.TextOps
      .chunkDocs(liveRows.toDF("doc_id", "text"), "doc_id", "text", 3, 2)
      .as[(Long, Long, Long, String)].collect().toSet
    def gopherFrame(df: org.apache.spark.sql.DataFrame) = {
      val feats = graft.llm.TextOps.gopherRules(col("text"))
      df.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .select($"doc_id", $"n_words", $"stop_hits", $"keep")
    }
    val batchGopher = gopherFrame(liveRows.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Boolean)].collect().toSet

    val ms = MemoryStream[(Long, String)]
    val live = ms.toDS().toDF("doc_id", "text")
    val q1 = graft.llm.LangModel.avgNll(live, "doc_id", "text", model)
      .writeStream.format("memory").queryName("ppl_par").outputMode("append").start()
    val q2 = graft.llm.TextOps.chunkDocs(live, "doc_id", "text", 3, 2)
      .writeStream.format("memory").queryName("chunk_par").outputMode("append").start()
    val q3 = gopherFrame(live)
      .writeStream.format("memory").queryName("gopher_par").outputMode("append").start()
    try {
      val (first, second) = liveRows.partition(_._1 <= 10L)
      ms.addData(first)
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      ms.addData(second)
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      assert(spark.table("ppl_par").as[(Long, Long, Double)].collect().toSet
        == batchScores && batchScores.nonEmpty)
      assert(spark.table("chunk_par").as[(Long, Long, Long, String)].collect().toSet
        == batchChunks && batchChunks.nonEmpty)
      assert(spark.table("gopher_par").as[(Long, Long, Long, Boolean)].collect().toSet
        == batchGopher && batchGopher.nonEmpty)
    } finally { q1.stop(); q2.stop(); q3.stop() }
  }

  test("classifier scoring and BPE encode over a document stream ≡ batch") {
    // both models train in batch; scoring/encoding are per-row literals
    implicit val ctx = spark.sqlContext
    val histRows = Seq((0L, "clean prose text", 1), (1L, "spam spam offer", 0),
      (2L, "more clean text here", 1), (3L, "offer spam click", 0))
    val hist = histRows.toDF("doc_id", "text", "label")
    val lr = graft.llm.Classifier.trainLogistic(hist, "doc_id", "text", "label",
      dim = 128, iters = 50)
    val bpe = graft.llm.Bpe.trainFromDict(
      Seq("clean" -> 5L, "spam" -> 4L, "text" -> 3L), numMerges = 6)
    val liveRows = Seq((10L, "clean spam text"), (11L, "unseen words"))
    val live0 = liveRows.toDF("doc_id", "text")
    val batchScore = graft.llm.Classifier.score(live0, "text", lr)
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    val batchBpe = graft.llm.Bpe.encode(live0, "text", bpe)
      .select("doc_id", "subwords").as[(Long, Seq[String])].collect().toSet

    val ms = MemoryStream[(Long, String)]
    val live = ms.toDS().toDF("doc_id", "text")
    val q1 = graft.llm.Classifier.score(live, "text", lr)
      .select("doc_id", "score")
      .writeStream.format("memory").queryName("clf_par").outputMode("append").start()
    val q2 = graft.llm.Bpe.encode(live, "text", bpe)
      .select("doc_id", "subwords")
      .writeStream.format("memory").queryName("bpe_par").outputMode("append").start()
    try {
      ms.addData(liveRows)
      Seq(q1, q2).foreach(_.processAllAvailable())
      assert(spark.table("clf_par").as[(Long, Double)].collect().toSet == batchScore)
      assert(spark.table("bpe_par").as[(Long, Seq[String])].collect().toSet == batchBpe)
    } finally { q1.stop(); q2.stop() }
  }

  test("semantic dedup over an embedding stream ≡ the batch operator") {
    implicit val ctx = spark.sqlContext
    val mk = (x: Double, y: Double) => Seq(x, y, 0.0, 0.0)
    val rows = Seq(
      (0L, mk(1, 0)), (1L, mk(0, 1)),
      (10L, mk(0.99, 0.10)), (11L, mk(0.992, 0.105)),
      (12L, mk(0.70, 0.70)), (20L, mk(0.05, 0.99)), (21L, mk(0.04, 0.995)))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val batch = graft.llm.Similarity
      .semanticDedup(emb, "vec_id", "embedding", centroids, 0.999)
      .as[(Long, Int, Long, Boolean)].collect().toSet

    val model = graft.llm.Similarity.collectCenters(centroids)
    val ms = MemoryStream[(Long, Seq[Double])]
    val n = ms.toDS().toDF("vec_id", "embedding")
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("v"),
        graft.llm.Similarity.norm(col("embedding")).as("nrm"))
    val assigned = graft.llm.Similarity.assignToCenters(n, model, prec = 6)
      .select(col("vid").as("vecId"), col("cid"), col("v"), col("nrm"))
      .as[graft.streaming.SemDedupStream.AssignedVec]
    val q = graft.streaming.SemDedupStream.verdicts(assigned, 0.999)
      .writeStream.format("memory").queryName("semdedup_par")
      .outputMode("update").start()
    try {
      // id-ordered arrival across micro-batches keeps first-copy-canonical
      // aligned with the batch min-id rule
      val (first, second) = rows.partition(_._1 <= 10L)
      ms.addData(first.sortBy(_._1))
      q.processAllAvailable()
      ms.addData(second.sortBy(_._1))
      q.processAllAvailable()
      val streamed = spark.table("semdedup_par")
        .select($"vecId", $"cid", $"dupOf", $"isDup")
        .as[(Long, Int, Long, Boolean)].collect().toSet
      assert(streamed == batch && batch.exists(_._4),
        s"streamed $streamed vs batch $batch")
      // no roster hit its cap here — every verdict is fully verified
      assert(spark.table("semdedup_par").filter($"overflow").isEmpty)
    } finally q.stop()
  }

  test("bucket overflow at maxBucketDocs is observable via the counter") {
    // after the cap, late docs still probe the frozen roster but are not
    // added — two new near-dups arriving post-overflow never pair with
    // each other. That parity loss must be counted, not silent.
    implicit val ctx = spark.sqlContext
    val sig = Seq.fill(16)(7L) // identical signatures → same bucket, est 1.0
    val rows = (1L to 5L).map(i =>
      graft.streaming.DedupStream.BandedSig(i, 0, "b0", sig))
    val acc = spark.sparkContext.longAccumulator("test.dedup.overflow")
    val ms = MemoryStream[graft.streaming.DedupStream.BandedSig]
    val q = graft.streaming.DedupStream.nearDupPairs(
        ms.toDS(), k = 16, threshold = 0.5, maxBucketDocs = 2, overflow = Some(acc))
      .writeStream.format("memory").queryName("dd_ovf").outputMode("update").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      // docs 3,4,5 overflow the 2-doc roster
      assert(acc.value == 3L)
      // they still paired against the frozen roster {1,2}…
      val pairs = spark.table("dd_ovf").select($"idA", $"idB").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 5L)))
      // …but not with each other — the documented, now-observable gap
      assert(!pairs.contains((3L, 4L)))
    } finally q.stop()
  }

  test("semantic-dedup verdicts carry the overflow flag once a cluster roster is full") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.SemDedupStream.AssignedVec
    val ms = MemoryStream[AssignedVec]
    val q = graft.streaming.SemDedupStream.verdicts(ms.toDS(), 0.999, maxClusterDocs = 2)
      .writeStream.format("memory").queryName("sd_ovf").outputMode("update").start()
    try {
      val x = Seq(1.0, 0.0); val y = Seq(0.0, 1.0)
      ms.addData((1L to 4L).map(i => AssignedVec(i, 0, x, 1.0)) :+ AssignedVec(5L, 0, y, 1.0))
      q.processAllAvailable()
      val out = spark.table("sd_ovf").select($"vecId", $"isDup", $"overflow")
        .as[(Long, Boolean, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(out(1L) == ((false, false)) && out(2L) == ((true, false)))
      // post-cap: still probed against the frozen roster…
      assert(out(3L) == ((true, true)) && out(4L) == ((true, true)))
      // …and a post-cap UNIQUE verdict is flagged as "roster was full",
      // not silently indistinguishable from verified-unique
      assert(out(5L) == ((false, true)))
    } finally q.stop()
  }

  // ------------------------------------------------- composed curate corpus
  // The full curation recipe as a streaming ingestion pipeline: four REAL
  // stateful queries (paragraph block registry, exact-text registry, LSH
  // bucket state, span gram registry) fed round by round in id order — the
  // topic-per-stage architecture a production stream composes — with
  // stateless gopher filtering and the shared positional-surgery/packing
  // code between them. Under in-order arrival every registry's keep-first
  // rule coincides with the batch min-id/keep-best rules (the documented
  // arrival-order contract), so the FINAL PACKED FRAME must equal
  // Pipeline.curate's on the same corpus — for EVERY partitioning of the
  // arrival sequence into micro-batch rounds (the law; the fixed case
  // plants per-stage fates, the randomized case samples the law).
  // Corpus plants one fate per stage: a gopher-fail doc, a stop line shared
  // by all docs + a license line shared by two (paragraph dedup), an exact
  // dup pair (which paragraph dedup structurally shadows — every block of
  // an exact dup is a cross-doc dup, a true property of the composition
  // asserted on both sides), a near-dup pair whose earlier doc is longer
  // (keep-best ≡ keep-first), and a 12-token run shared mid-line by two
  // docs (span surgery).
  private val curateStopLine = "the cost of that update have to land with and be near"
  private val curateLicense = "license text common to all documents"
  private def curateBody(seed: Int, n: Int): String =
    (0 until n).map(i => s"a${seed}w$i").mkString(" ")
  private val curateSharedRun = (0 until 12).map(i => s"sp${i}z").mkString(" ")
  private lazy val curateDocs: Seq[(Long, String, String)] = Seq(
    (1L, s"$curateStopLine\n${curateBody(1, 45)}", "s1"),
    (2L, s"$curateStopLine\n${curateBody(2, 45)}\n$curateLicense", "s0"),
    (3L, s"$curateStopLine\n${curateBody(3, 45)}\n$curateLicense", "s1"),
    (4L, s"$curateStopLine\n${curateBody(4, 45)} x4extra", "s0"),     // near-dup keeper (longer, earlier)
    (5L, s"$curateStopLine\n${curateBody(4, 44)} a5tail", "s1"),      // near-dup of 4 (one token differs)
    (6L, s"$curateStopLine\n${curateBody(6, 20)} $curateSharedRun ${curateBody(60, 13)}", "s0"), // span keeper
    (7L, s"$curateStopLine\n${curateBody(7, 18)} $curateSharedRun ${curateBody(70, 15)}", "s1"), // span-cut victim
    (8L, "short text only", "s0"),                        // gopher fail (<50 tokens)
    (9L, s"$curateStopLine\n${curateBody(9, 45)}", "s1"),
    (10L, s"$curateStopLine\n${curateBody(9, 45)}", "s0"))            // exact dup of 9 (dies at paragraph)
  private val curateSeqLen = 16

  /** Batch truth: the end-to-end pipeline, computed once and shared by the
    * fixed-split and randomized-split parity cases. */
  private lazy val curateBatchPacked: Set[(Long, String, Long, Long, Long)] =
    graft.llm.Pipeline.curate(curateDocs.toDF("doc_id", "text", "source"),
        "doc_id", "text", "source",
        graft.llm.Pipeline.CurationConfig(
          langs = Set.empty, requireC4Keep = false,
          gopherRules = true, paragraphDedup = true,
          maxAvgNll = None, nearDup = true,
          spanDedup = true, spanDedupN = 8,
          benchmark = None, defaultMixRate = 1.0, seqLen = curateSeqLen))
      .select($"doc_id", $"source", $"n_tok", $"pack_id", $"pack_offset")
      .as[(Long, String, Long, Long, Long)].collect().toSet

  /** Drive the four stateful twins over `rounds` (an ordered partitioning
    * of the id-ordered corpus into micro-batch arrival rounds) and return
    * the final packed frame. `tag` keys the memory sinks so invocations
    * are independent. Returns (packedFrame, exactRegistryFlaggedAnything). */
  private def streamCurate(
      rounds: Seq[Seq[(Long, String, String)]],
      tag: String): (Set[(Long, String, Long, Long, Long)], Boolean) = {
    implicit val ctx = spark.sqlContext
    import graft.streaming.ParagraphDedupStream.ParaOcc
    import graft.streaming.DedupStream.BandedSig
    import graft.streaming.SpanDedupStream.GramOcc
    val msPara = MemoryStream[ParaOcc]
    val qPara = graft.streaming.ParagraphDedupStream.badParagraphs(msPara.toDS())
      .toDF().writeStream.format("memory").queryName(s"cur_para_$tag")
      .outputMode("update").start()
    val msExact = MemoryStream[ParaOcc] // full-text hash as a one-block registry
    val qExact = graft.streaming.ParagraphDedupStream.badParagraphs(msExact.toDS())
      .toDF().writeStream.format("memory").queryName(s"cur_exact_$tag")
      .outputMode("update").start()
    val msNear = MemoryStream[BandedSig]
    val qNear = graft.streaming.DedupStream.nearDupPairs(msNear.toDS(), k = 16, threshold = 0.5)
      .writeStream.format("memory").queryName(s"cur_near_$tag").outputMode("update").start()
    val msSpan = MemoryStream[GramOcc]
    val qSpan = graft.streaming.SpanDedupStream.badPositions(msSpan.toDS())
      .writeStream.format("memory").queryName(s"cur_span_$tag").outputMode("update").start()
    try {
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String =
        md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val keptNear = scala.collection.mutable.LinkedHashMap.empty[Long, (String, String)]
      for (round <- rounds) {
        // stage 1: gopher — stateless, the same expression as the batch
        val gOk = round.toDF("doc_id", "text", "source")
          .filter(graft.llm.TextOps.gopherRules($"text").toMap.apply("keep"))
          .as[(Long, String, String)].collect().toSeq
        // stage 2: paragraph block registry
        msPara.addData(graft.llm.Dedup.paragraphOccurrences(
            gOk.toDF("doc_id", "text", "source"), "doc_id", "text")
          .filter($"__ph".isNotNull)
          .select($"doc_id".as("docId"), $"p_idx".as("pIdx"), $"__ph".as("ph"))
          .as[ParaOcc].collect().toSeq)
        qPara.processAllAvailable()
        val paraFlags = spark.table(s"cur_para_$tag").as[(Long, Int)].collect().toSet
        val rebuilt = gOk.flatMap { case (id, text, src) =>
          val t = text.split("\n", -1).zipWithIndex
            .filterNot { case (_, i) => paraFlags((id, i)) }
            .map(_._1).mkString("\n")
          if (t.trim.isEmpty) None else Some((id, t, src))
        }
        // stage 3: exact-text registry (structurally shadowed by stage 2)
        msExact.addData(rebuilt.map { case (id, t, _) => ParaOcc(id, 0, md5hex(t)) })
        qExact.processAllAvailable()
        val exactFlags = spark.table(s"cur_exact_$tag").as[(Long, Int)].collect().map(_._1).toSet
        val exOk = rebuilt.filterNot { case (id, _, _) => exactFlags(id) }
        // stage 4: LSH bucket state; keep-first against already-kept docs
        msNear.addData(graft.llm.Dedup.signatureBands(
            exOk.toDF("doc_id", "text", "source"), "doc_id", "text")
          .select($"doc_id".as("docId"), $"band", $"bh", $"sig")
          .as[BandedSig].collect().toSeq)
        qNear.processAllAvailable()
        val pairs = spark.table(s"cur_near_$tag").select($"idA", $"idB").distinct()
          .as[(Long, Long)].collect().toSet
        exOk.sortBy(_._1).foreach { case (id, t, src) =>
          val dup = keptNear.keys.exists(k => pairs((k min id, k max id)))
          if (!dup) keptNear.update(id, (t, src))
        }
        // stage 5: span gram registry over this round's near-dup KEEPERS
        val roundKept = exOk.filter { case (id, _, _) => keptNear.contains(id) }
        msSpan.addData(graft.llm.Decontaminate.positionalGrams(
            roundKept.toDF("doc_id", "text", "source"), "doc_id", "text", 8)
          .select($"doc_id".as("docId"), $"pos", $"gram")
          .as[GramOcc].collect().toSeq)
        qSpan.processAllAvailable()
      }
      // a doc's span flags are final at its own arrival (later docs never
      // flag earlier ones), so the positional surgery runs once at the end
      // through the SAME fragment/reassembly code the batch uses
      val survDf = keptNear.toSeq.map { case (id, (t, src)) => (id, t, src) }
        .toDF("doc_id", "text", "source")
      val badPos = spark.table(s"cur_span_$tag").groupBy($"docId".as("doc_id"))
        .agg(sort_array(collect_set($"pos")).as("badPos"))
      val frags = graft.llm.Decontaminate.fragmentByBadStarts(
        survDf, badPos, "doc_id", "text", n = 8, margin = 0, minKeepTokens = 1)
      val reasm = frags.groupBy($"doc_id").agg(
        sum($"n_tok").cast("long").as("n_tok"))
        .join(survDf.select($"doc_id", $"source"), "doc_id")
      val streamPacked = graft.llm.Mix.packSequencesCounted(
          reasm, "doc_id", "source", "n_tok", curateSeqLen)
        .select($"doc_id", $"source", $"n_tok", $"pack_id", $"pack_offset")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      (streamPacked, !spark.table(s"cur_exact_$tag").isEmpty)
    } finally { qPara.stop(); qExact.stop(); qNear.stop(); qSpan.stop() }
  }

  test("COMPOSED streaming curate ≡ Pipeline.curate (gopher → paragraph → near-dup → span → pack)") {
    val docs = curateDocs
    val (streamPacked, exactFlagged) =
      streamCurate(Seq(docs.take(4), docs.slice(4, 6), docs.drop(6)), "fix")
    assert(streamPacked === curateBatchPacked)
    val fate = curateBatchPacked.map(r => r._1 -> r._3).toMap
    // planted fates, asserted on the (equal) batch side
    assert(!fate.contains(8L)) // gopher fail
    assert(!fate.contains(5L) && fate.contains(4L)) // near-dup keep-best ≡ keep-first
    assert(!fate.contains(10L) && fate.contains(9L)) // exact dup died at paragraph stage
    assert(fate(7L) === 18L + 15L) // span surgery cut exactly the shared 12-token run
    assert(fate(6L) === 45L) // span keeper whole (stop line stripped to doc 1)
    assert(fate(1L) === 12L + 45L) // doc 1 keeps the stop line
    // the exact registry really was shadowed — flagged nothing
    assert(!exactFlagged)
  }

  test("composed streaming-curate parity holds for EVERY arrival partitioning (20 generated splits)") {
    // The in-order-arrival contract makes the packed frame a function of
    // the SEQUENCE, not of where micro-batch boundaries fall — the fixed
    // case above samples one partitioning; this samples the law across the
    // two extremes (one round; one doc per round) plus 18 seeded-random
    // cut sets over the 2^9 possible contiguous partitionings.
    val docs = curateDocs
    val rnd = new scala.util.Random(20260815L)
    def splitAt(cuts: Seq[Int]): Seq[Seq[(Long, String, String)]] = {
      val bounds = (0 +: cuts.sorted) :+ docs.length
      bounds.sliding(2).map { case Seq(a, b) => docs.slice(a, b) }
        .filter(_.nonEmpty).toSeq
    }
    val cases: Seq[Seq[Int]] =
      Seq(Seq.empty[Int], (1 until docs.length)) ++
        (0 until 18).map(_ => (1 until docs.length).filter(_ => rnd.nextDouble() < 0.4))
    cases.zipWithIndex.foreach { case (cuts, i) =>
      val (streamPacked, _) = streamCurate(splitAt(cuts), s"rnd$i")
      assert(streamPacked === curateBatchPacked,
        s"arrival partitioning at cuts=$cuts diverged from the batch packed frame")
    }
  }
}
