package graft

import graft.streaming.AutoscaleStream
import graft.streaming.AutoscaleStream._

/** Autoscale FSM semantics pinned against autoscale.go:181-283
  * (handlePoint): replica-expression eval with optional current binding,
  * [min,max] clamping, no-op on unchanged, per-direction cooldowns that
  * drop WITHOUT committing the new count, first-sight resource query,
  * event shape, and the increase/decrease/cooldown counters. */
class AutoscaleSpec extends SparkSpec {
  import spark.implicits._

  private val s = 1000000L // µs per second

  private def cfg(
      min: Long = 1, max: Long = 10,
      incCd: Long = 5 * s, decCd: Long = 5 * s,
      repl: (Double, Long) => Long = (v, _) => math.ceil(v / 10.0).toLong,
      init: String => Long = _ => 1L) =
    AutoscaleConfig(min, max, incCd, decCd, repl, init)

  private def events(pts: Seq[AutoscalePoint], c: AutoscaleConfig,
      ctr: Counters = Counters()) =
    runBatch(pts.toDS(), c, ctr).collect().sortBy(p => (p.resource, p.timeUs))
      .map(e => (e.resource, e.timeUs / s, e.old, e.replicas)).toSeq

  test("scale events with per-direction cooldowns; drops do not commit the count") {
    val inc = spark.sparkContext.longAccumulator
    val dec = spark.sparkContext.longAccumulator
    val drop = spark.sparkContext.longAccumulator
    val pts = Seq(
      AutoscalePoint("a", 0 * s, 25),  // 1 -> 3: first increase, cooldown arms
      AutoscalePoint("a", 2 * s, 45),  // wants 5, 2s < 5s cooldown: DROPPED, stays 3
      AutoscalePoint("a", 6 * s, 45),  // 3 -> 5: cooldown expired
      AutoscalePoint("a", 8 * s, 10),  // 5 -> 1: decrease cooldown independent, never armed
      AutoscalePoint("a", 9 * s, 30),  // wants 3, 9s < 6s+5s: DROPPED
      AutoscalePoint("a", 12 * s, 5),  // desired 1 == current 1: nothing
      AutoscalePoint("a", 13 * s, 30)) // 1 -> 3: 13s >= 6s+5s
    val got = events(pts, cfg(), Counters(Some(inc), Some(dec), Some(drop)))
    assert(got === Seq(("a", 0L, 1L, 3L), ("a", 6L, 3L, 5L),
      ("a", 8L, 5L, 1L), ("a", 13L, 1L, 3L)))
    assert((inc.value, dec.value, drop.value) === (3L, 1L, 2L))
  }

  test("desired clamps to [min, max]; max <= 0 is unbounded above") {
    assert(events(Seq(AutoscalePoint("a", 0, 990)), cfg(max = 4)) ===
      Seq(("a", 0L, 1L, 4L)))
    assert(events(Seq(AutoscalePoint("a", 0, 990)), cfg(max = 0)) ===
      Seq(("a", 0L, 1L, 99L)))
    // desired 0 clamps to min and equals the initial count: no event
    assert(events(Seq(AutoscalePoint("a", 0, 0)), cfg()) === Seq.empty)
  }

  test("current-aware replicas lambda: a dropped increment does not compound") {
    // replicas = current + 1 every point; with a 5s increase cooldown the
    // suppressed point at t=2 must NOT advance current (the reference
    // only writes state back on success), so t=6 emits 2 -> 3, not 3 -> 4
    val c = cfg(repl = (_, cur) => cur + 1)
    val pts = Seq(
      AutoscalePoint("a", 0 * s, 0),
      AutoscalePoint("a", 2 * s, 0),
      AutoscalePoint("a", 6 * s, 0))
    assert(events(pts, c) === Seq(("a", 0L, 1L, 2L), ("a", 6L, 2L, 3L)))
  }

  test("first-sight resource query seeds current per resource") {
    val c = cfg(init = r => if (r == "big") 8L else 2L,
      repl = (v, _) => v.toLong)
    val pts = Seq(
      AutoscalePoint("big", 0, 8),   // desired == live count: nothing
      AutoscalePoint("big", 1 * s, 4),
      AutoscalePoint("small", 0, 5))
    assert(events(pts, c) === Seq(("big", 1L, 8L, 4L), ("small", 0L, 2L, 5L)))
  }

  test("min must be >= 1, validated at definition like the reference") {
    val ex = intercept[IllegalArgumentException] {
      runBatch(Seq(AutoscalePoint("a", 0, 1)).toDS(), cfg(min = 0))
    }
    assert(ex.getMessage.contains("minimum count must be >= 1"))
  }

  test("streaming ≡ batch across micro-batch boundaries (state carries over)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val c = cfg()
    val all = Seq(
      AutoscalePoint("a", 0 * s, 25), AutoscalePoint("b", 0 * s, 70),
      AutoscalePoint("a", 2 * s, 45), AutoscalePoint("b", 2 * s, 10),
      AutoscalePoint("a", 6 * s, 45), AutoscalePoint("b", 7 * s, 80),
      AutoscalePoint("a", 8 * s, 10), AutoscalePoint("b", 9 * s, 95))
    val ms = MemoryStream[AutoscalePoint]
    val q = runStreaming(ms.toDS(), c).writeStream
      .format("memory").queryName("as_par").outputMode("update").start()
    try {
      // split mid-cooldown so the suppressed-state path crosses a batch edge
      ms.addData(all.take(4)); q.processAllAvailable()
      ms.addData(all.drop(4)); q.processAllAvailable()
      val streamed = spark.table("as_par").as[ScaleEvent].collect()
        .sortBy(e => (e.resource, e.timeUs)).toSeq
      val batch = runBatch(all.toDS(), c).collect()
        .sortBy(e => (e.resource, e.timeUs)).toSeq
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("PROPERTY: streaming ≡ batch for random sequences under random micro-batch splits") {
    // the state-store path must be invariant to WHERE the micro-batch
    // boundaries fall: cooldown timers armed in one batch suppress (or
    // admit) points in later batches exactly as the single-pass fold
    // would. Random inputs + random split points hunt the boundary cases
    // a hand-written example can miss (cooldown expiring exactly at a
    // batch edge, first-sight seeding mid-stream, equal-desired no-ops).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 8) {
      val incCd = (rnd.nextInt(6) + 1) * s
      val decCd = (rnd.nextInt(6) + 1) * s
      val c = cfg(min = 1, max = 8, incCd = incCd, decCd = decCd,
        repl = (v, _) => math.ceil(v / 10.0).toLong,
        init = r => (r.hashCode().abs % 3 + 1).toLong)
      val resources = Seq("a", "b", "c")
      // strictly increasing per-resource times so fold order is total
      val all = resources.flatMap { r =>
        var t = 0L
        (1 to 12 + rnd.nextInt(8)).map { _ =>
          t += (rnd.nextInt(3) + 1) * s // 1-3s gaps vs 1-6s cooldowns
          AutoscalePoint(r, t, rnd.nextInt(90).toDouble)
        }
      }
      // arrival order: time-interleaved across resources, but each
      // resource's own points stay in time order — the streaming
      // contract (within a batch the group re-sorts; ACROSS batches
      // later points must not precede earlier ones, same as any
      // at-least-ordered ingestion)
      val shuffled = all.sortBy(p => (p.timeUs, p.resource))
      // 2-4 random batch slices
      val nSplits = 1 + rnd.nextInt(3)
      val cuts = (Seq(0, shuffled.length) ++
        Seq.fill(nSplits)(rnd.nextInt(shuffled.length + 1))).distinct.sorted
      val name = s"as_prop_$trial"
      val ms = MemoryStream[AutoscalePoint]
      val q = runStreaming(ms.toDS(), c).writeStream
        .format("memory").queryName(name).outputMode("update").start()
      try {
        cuts.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) { ms.addData(shuffled.slice(a, b)); q.processAllAvailable() }
        }
        val streamed = spark.table(name).as[ScaleEvent].collect()
          .sortBy(e => (e.resource, e.timeUs)).toSeq
        val batch = runBatch(all.toDS(), c).collect()
          .sortBy(e => (e.resource, e.timeUs)).toSeq
        assert(streamed === batch,
          s"trial $trial (incCd=${incCd / s}s decCd=${decCd / s}s cuts=$cuts)")
        assert(batch.nonEmpty, s"trial $trial produced no events — weak input")
      } finally q.stop()
    }
  }

  test("TICKscript k8sAutoscale(): lambda, min/max props, cooldown, resource tag") {
    import java.sql.Timestamp
    val source = Seq(
      ("requests", "svcA", new Timestamp(0L), 25.0),
      ("requests", "svcA", new Timestamp(2000L), 45.0),  // cooldown drop
      ("requests", "svcA", new Timestamp(6000L), 45.0),  // 3 -> 5 (capped)
      ("requests", "svcB", new Timestamp(0L), 90.0),     // 1 -> 5 (max clamp)
      ("other", "svcC", new Timestamp(0L), 99.0))        // filtered out
      .toDF("measurement", "service", "time", "value")
    val script =
      """stream
        ||from().measurement('requests').groupBy('service')
        ||k8sAutoscale()
        |    .resourceNameTag('service')
        |    .replicas(lambda: int(ceil("value" / 10.0)))
        |    .min(1)
        |    .max(5)
        |    .increaseCooldown(5s)
        |""".stripMargin
    val out = graft.tick.TickScript.compile(script, source)
      .select("resource", "old", "new").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    assert(out === Array(("svcA", 1L, 3L), ("svcA", 3L, 5L), ("svcB", 1L, 5L)))
  }

  test("TICKscript k8sAutoscale(): currentField and missing replicas refuse loudly") {
    val source = Seq(("requests", "a", new java.sql.Timestamp(0L), 1.0))
      .toDF("measurement", "service", "time", "value")
    val e1 = intercept[IllegalArgumentException] {
      graft.tick.TickScript.compile(
        "stream\n|from()\n|k8sAutoscale().resourceName('x').replicas(lambda: int(\"value\")).currentField('replicas')\n",
        source)
    }
    assert(e1.getMessage.contains("currentField"))
    val e2 = intercept[IllegalArgumentException] {
      graft.tick.TickScript.compile(
        "stream\n|from()\n|k8sAutoscale().resourceName('x')\n", source)
    }
    assert(e2.getMessage.contains("requires .replicas"))
  }

  test("GOLDEN TestStream_Autoscale: reference fixture replicas sequences, default and min/max") {
    // integrations/streamer_test.go TestStream_Autoscale over
    // testdata/TestStream_Autoscale.srpl: serviceA/serviceB replica
    // demands [1,2,-1,1000,2] / [10,20,0,1000,20] at t=1..5, live counts
    // seeded A=1, B=10 by the mocked ScalesGetFunc. The fixture's raw ns
    // timestamps (1..5) collapse to one µs instant, so the golden drives
    // the ENGINE on the ts_ns axis directly; cooldowns are zero, ordering
    // is all that matters — exactly the reference testcase's config.
    val df = graft.sources.Replay.readSrpl(spark,
      RefFixtures.testdata("TestStream_Autoscale.srpl"))
    import org.apache.spark.sql.functions._
    val pts = df.select(
        element_at(col("tags"), "deployment").as("resource"),
        col("ts_ns").as("timeUs"),
        element_at(col("fieldsFloat"), "replicas").as("value"))
      .as[AutoscalePoint]
    val seed: String => Long = r => if (r == "serviceA") 1L else 10L
    def updates(c: AutoscaleConfig) =
      runBatch(pts, c).collect().sortBy(e => (e.resource, e.timeUs))
        .groupBy(_.resource).view.mapValues(_.map(e => (e.old, e.replicas)).toSeq).toMap
    // default config: min=1, max unbounded (k8s/swarm/ec2 share the engine)
    val base = updates(AutoscaleConfig(1, 0, 0, 0, (v, _) => v.toLong, seed))
    assert(base("serviceA") === Seq((1L, 2L), (2L, 1L), (1L, 1000L), (1000L, 2L)))
    assert(base("serviceB") === Seq((10L, 20L), (20L, 1L), (1L, 1000L), (1000L, 20L)))
    // .min(3).max(500) variant — expMinMaxUpdatesByService:
    // serviceA [3,500,3], serviceB [20,3,500,20]
    val mm = updates(AutoscaleConfig(3, 500, 0, 0, (v, _) => v.toLong, seed))
    assert(mm("serviceA").map(_._2) === Seq(3L, 500L, 3L))
    assert(mm("serviceB").map(_._2) === Seq(20L, 3L, 500L, 20L))
    // and the reference's verbatim k8sAutoscale script compiles through
    // the DSL with the live-count seam injected
    val script =
      """stream
        ||from().measurement('scale').groupBy('deployment')
        ||k8sAutoscale().resourceNameTag('deployment').replicas(lambda: int("replicas"))
        |""".stripMargin
    val flat = df.select(col("measurement"), col("time"),
      element_at(col("tags"), "deployment").as("deployment"),
      element_at(col("fieldsFloat"), "replicas").as("replicas"))
    val compiled = graft.tick.TickScript.compile(script, flat,
      autoscaleInitial = Some(seed))
    assert(compiled.columns.toSet === Set("resource", "old", "new", "time"))
  }

  test("applyEvents drives the injectable setReplicas transport per event") {
    AutoscaleSpec.applied.clear()
    val evs = runBatch(Seq(
      AutoscalePoint("a", 0, 30), AutoscalePoint("b", 0, 60)).toDS(), cfg())
    applyEvents(evs, (r, n) => AutoscaleSpec.applied.add(s"$r=$n"))
    val got = {
      val it = AutoscaleSpec.applied.iterator()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result().sorted
    }
    assert(got === Seq("a=3", "b=6"))
  }
}

object AutoscaleSpec {
  // local-mode executor threads share this JVM; a concurrent queue records
  // the transport calls (same pattern as the sink transport specs)
  val applied = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
