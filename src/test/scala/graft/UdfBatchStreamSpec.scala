package graft

import graft.sources.UdfProto
import graft.sources.UdfProto.{ProtoBatch, ProtoPoint}
import graft.streaming.UdfBatchStream

/** Streaming batch-edge assembly (streaming/UdfBatchStream): tumbling
  * windows close into ProtoBatches exactly once when the watermark
  * passes, and the closed batches drive a REAL batch agent per
  * micro-batch — the streaming equivalent of the windowed
  * TickScript.protobufBatchUdf path. */
class UdfBatchStreamSpec extends SparkSpec {
  import spark.implicits._

  private def pt(group: String, tS: Long, v: Double): ProtoPoint =
    ProtoPoint(tS * 1000000000L, "cpu", "", "", group, Nil,
      Map("host" -> group.stripPrefix("host=")),
      Map("value" -> v), Map.empty, Map.empty, Map.empty, byName = false)

  test("watermark closes tumbling windows into batches exactly once, in order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[ProtoPoint]
    val q = UdfBatchStream.assembleBatches(ms.toDS(), periodS = 10L)
      .writeStream.format("memory").queryName("udfbatch_asm")
      .outputMode("append").start()
    try {
      // window [0,10) for two groups
      ms.addData(
        pt("host=a", 1, 1.0), pt("host=a", 3, 5.0), pt("host=a", 5, 2.0),
        pt("host=b", 2, 11.0), pt("host=b", 4, 13.0))
      q.processAllAvailable()
      // nothing emits yet: the watermark has not passed the window end
      assert(spark.table("udfbatch_asm").count() === 0L)
      // window [10,20) plus a far-future sentinel in its own group: the
      // watermark jumps past 20 s, closing both earlier windows
      ms.addData(
        pt("host=a", 12, 7.0), pt("host=a", 14, 4.0),
        pt("host=sentinel", 100, 0.0))
      q.processAllAvailable()
      val batches = spark.table("udfbatch_asm").as[ProtoBatch].collect()
        .sortBy(b => (b.group, b.tmax))
      // host=a windows 0 and 1; host=b window 0; the sentinel's window
      // [100,110) stays OPEN in state — no premature emit
      assert(batches.map(b => (b.group, b.tmax / 1000000000L, b.points.length)).toSeq ===
        Seq(("host=a", 10L, 3), ("host=a", 20L, 2), ("host=b", 10L, 2)))
      batches.foreach { b =>
        assert(b.name === "cpu")
        assert(b.tags === Map("host" -> b.group.stripPrefix("host=")))
        assert(b.points.map(_.time).sorted === b.points.map(_.time), "points time-ordered")
      }
      assert(batches.find(b => b.group == "host=a" && b.tmax == 10000000000L).get
        .points.map(_.fieldsDouble("value")).toSet === Set(1.0, 5.0, 2.0))
    } finally q.stop()
  }

  test("assembleBatches ∘ pipeBatches: a real BATCH agent rides the stream end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val cmd = UdfProto.Agent.Process(
      Seq("java", "-cp", sys.props("java.class.path"), "graft.tools.BatchStatsAgent"))
    val ms = MemoryStream[ProtoPoint]
    val q = UdfProto.pipeBatches(
        UdfBatchStream.assembleBatches(ms.toDS(), periodS = 10L), cmd)
      .writeStream.format("memory").queryName("udfbatch_agent")
      .outputMode("append").start()
    try {
      ms.addData(
        pt("host=a", 1, 1.0), pt("host=a", 3, 5.0), pt("host=a", 5, 2.0),
        pt("host=b", 2, 11.0), pt("host=b", 4, 13.0))
      q.processAllAvailable()
      ms.addData(pt("host=sentinel", 100, 0.0))
      q.processAllAvailable()
      val out = spark.table("udfbatch_agent").as[ProtoBatch].collect()
        .sortBy(_.group)
      assert(out.map(_.group).toSeq === Seq("host=a", "host=b"))
      // the agent's per-batch stats match a per-window recomputation —
      // the same assertions the static protobufBatchUdf spec makes
      val a = out(0)
      assert(a.points.forall(_.fieldsInt("batch_n") === 3L))
      assert(a.points.forall(_.fieldsDouble("vmax") === 5.0))
      val b = out(1)
      assert(b.points.forall(_.fieldsInt("batch_n") === 2L))
      assert(b.points.forall(_.fieldsDouble("vmax") === 13.0))
      // batch meta rode through the agent (End.tags → output group)
      assert(a.tags === Map("host" -> "a") && a.tmax === 10000000000L)
    } finally q.stop()
  }

  test("open windows survive a checkpointed restart") {
    // points land in an open window before the restart; the sentinel that
    // closes it arrives after — the emitted batch can only contain the
    // pre-restart points if the window state persisted through the
    // checkpoint
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ubs_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[ProtoBatch]()
    def sink(df: org.apache.spark.sql.Dataset[ProtoBatch], id: Long): Unit =
      df.collect().foreach(got.add)
    val ms1 = MemoryStream[ProtoPoint]
    val q1 = UdfBatchStream.assembleBatches(ms1.toDS(), periodS = 10L)
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(sink _).start()
    try {
      ms1.addData(pt("host=a", 1, 1.0), pt("host=a", 3, 2.0))
      q1.processAllAvailable()
      assert(got.isEmpty) // window [0,10) still open
    } finally q1.stop()
    val ms2 = MemoryStream[ProtoPoint]
    ms2.addData(pt("host=a", 1, 1.0), pt("host=a", 3, 2.0)) // batch 0 re-definition for offset-log replay
    val q2 = UdfBatchStream.assembleBatches(ms2.toDS(), periodS = 10L)
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(sink _).start()
    try {
      ms2.addData(pt("host=a", 5, 3.0), pt("host=sentinel", 100, 0.0))
      q2.processAllAvailable()
      val batches = got.toArray(Array.empty[ProtoBatch]).filter(_.group == "host=a")
      assert(batches.length === 1, s"window must emit exactly once, got ${batches.length}")
      assert(batches.head.points.map(_.fieldsDouble("value")).sorted.toSeq ===
        Seq(1.0, 2.0, 3.0), "pre-restart points must survive in state")
    } finally q2.stop()
  }

  test("a degenerate group caps its window buffer and counts the overflow") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val acc = spark.sparkContext.longAccumulator("test.udfbatch.overflow")
    val ms = MemoryStream[ProtoPoint]
    val q = UdfBatchStream.assembleBatches(ms.toDS(), periodS = 10L,
        maxPointsPerWindow = 3, overflow = Some(acc))
      .writeStream.format("memory").queryName("udfbatch_cap")
      .outputMode("append").start()
    try {
      ms.addData((1 to 8).map(i => pt("host=x", 1, i * 1.0)): _*)
      q.processAllAvailable()
      ms.addData(pt("host=sentinel", 100, 0.0))
      q.processAllAvailable()
      val batches = spark.table("udfbatch_cap").as[ProtoBatch].collect()
      assert(batches.length === 1)
      assert(batches.head.points.length === 3, "buffer capped")
      assert(acc.value === 5L, "overflow observable, not silent")
    } finally q.stop()
  }
}
