package graft

import graft.operators.HoltWinters
import org.apache.spark.sql.functions._

/** holtWinters / holtWintersWithFit (reference pipeline/influxql.go:555-581):
  * deterministic behavioral pins the DuckDB oracle can't express — the fit
  * tracks a known generator, withFit prepends the in-sample fit, and the
  * Aggregator surface matches the direct computation. */
class HoltWintersSpec extends SparkSpec {
  import spark.implicits._

  private val m = 4
  private val season = Seq(2.0, -1.0, -2.0, 1.0)
  private def gen(i: Int): Double = 10.0 + 0.5 * i + season(i % m)
  private val series = (0 until 24).map(gen)

  // The reference golden series (integrations/testdata/TestStream_HoltWinters
  // .srpl rebased to t=0, first 10s window) and its expected outputs from
  // integrations/streamer_test.go:483-601.
  private val goldenY = Array(1000.0, 1001, 1002, 1003, 1004, 1006, 1007, 1007, 1008, 1009)
  private val goldenPts = goldenY.zipWithIndex.map { case (v, i) => HoltWinters.TV(i.toLong, v) }

  // Tolerance note: the recursion, objective, and emission semantics are
  // verified against the reference goldens; recovering the reference's
  // converged parameters by numerical inversion reproduces its 13 golden
  // values to ~1e-10. Our grid-seeded Nelder-Mead settles on a slightly
  // different local optimum of the same SSE surface (ours scores 0.893 vs
  // the reference's 0.930), so outputs agree to ~0.03 absolute on values
  // around 1009 (≈0.003%) rather than bit-for-bit.
  test("reference TestStream_HoltWinters golden: 3-step forecast") {
    val fc = HoltWinters.run(goldenPts, 3, 0, 1L, withFit = false)
    assert(fc.map(_.t).toSeq == Seq(10L, 11L, 12L))
    val expected = Seq(1009.324690106368, 1009.7524349889708, 1010.105056042826)
    fc.map(_.v).zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 0.1, s"$got vs $want")
    }
  }

  test("reference TestStream_HoltWintersWithFit golden: fit ++ forecast") {
    val fc = HoltWinters.run(goldenPts, 3, 0, 1L, withFit = true)
    assert(fc.map(_.t).toSeq == (0L to 12L))
    val expected = Seq(
      1000.0, 1000.7349380776699, 1001.8935462884633, 1003.1750039651934,
      1004.4245269000132, 1005.5685498251902, 1006.5782508658309,
      1007.4488388165385, 1008.1877681696025, 1008.8080773333872,
      1009.324690106368, 1009.7524349889708, 1010.105056042826)
    assert(fc.head.v == 1000.0) // fit starts exactly at y0
    // early fit points carry the l0/b0 difference between the two local
    // optima, so the fit tolerance is looser than the forecast's
    fc.map(_.v).zip(expected).foreach { case (got, want) =>
      assert(math.abs(got - want) < 0.2, s"$got vs $want")
    }
  }

  test("withFit returns n fitted values plus h forecasts tracking the generator") {
    val h = 8
    val out = HoltWinters.forecast(series.toArray, h, m, withFit = true)
    assert(out.length == series.length + h)
    val fitted = out.take(series.length)
    val tail = fitted.zip(series).drop(2 * m)
    val mse = tail.map { case (f, v) => (f - v) * (f - v) }.sum / tail.size
    assert(mse < 4.0, s"in-sample MSE $mse")
    out.drop(series.length).zipWithIndex.foreach { case (f, j) =>
      val truth = gen(series.length + j)
      assert(math.abs(f - truth) < 3.0, s"forecast $j: $f vs $truth")
    }
  }

  test("withFit=false is exactly the forecast tail of withFit=true") {
    val h = 5
    val fit = HoltWinters.forecast(series.toArray, h, m, withFit = true)
    val fc = HoltWinters.forecast(series.toArray, h, m, withFit = false)
    assert(fc.toSeq == fit.takeRight(h).toSeq)
  }

  test("the distributed aggregate equals the direct computation per group") {
    val h = 6
    val df = series.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("g", "t", "v")
      .repartition(8) // force partial/merge paths through the Aggregator
    val agg = df.groupBy("g").agg(
      HoltWinters.holtWinters(col("t"), col("v"), h, m, withFit = true).as("hw"))
    val got = agg.select(explode(col("hw")).as("p"))
      .select(col("p.t"), col("p.v")).as[(Long, Double)].collect()
    val direct = HoltWinters.run(
      series.zipWithIndex.map { case (v, i) => HoltWinters.TV(i.toLong, v) }.toArray,
      h, m, 1L, withFit = true)
    assert(got.toSeq == direct.map(p => (p.t, p.v)).toSeq)
  }

  test("holtWintersAuto matches the serial fit on all three dispatch branches") {
    val df = series.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("g", "t", "v").repartition(8)
    val serial = HoltWinters.run(
      series.zipWithIndex.map { case (v, i) => HoltWinters.TV(i.toLong, v) }.toArray,
      5, m, 1L, withFit = false).map(p => (p.t, p.v)).toSeq
    // 24 gridded points ≤ driverFitMaxPoints → driver-fit branch
    val auto = HoltWinters.holtWintersAuto(df, "g", "t", "v", 5, m, 1L)
      .orderBy("t").select("t", "v").as[(Long, Double)].collect().toSeq
    assert(auto == serial)
    // driver fit disabled → restart fan-out branch
    val autoFan = HoltWinters.holtWintersAuto(df, "g", "t", "v", 5, m, 1L,
        driverFitMaxPoints = 0L)
      .orderBy("t").select("t", "v").as[(Long, Double)].collect().toSeq
    assert(autoFan == serial)
    // both caps zero → serial Aggregator branch
    val autoSerial = HoltWinters.holtWintersAuto(df, "g", "t", "v", 5, m, 1L,
        driverFitMaxPoints = 0L, maxBroadcastPoints = 0L)
      .orderBy("t").select("t", "v").as[(Long, Double)].collect().toSeq
    assert(autoSerial == serial)
  }

  test("holtWintersAuto handles null group keys on every branch") {
    val rows = series.zipWithIndex.flatMap { case (v, i) =>
      Seq(("g", i.toLong, v), (null: String, i.toLong, v + 1.0)) }
    val df = rows.toDF("g", "t", "v").repartition(8)
    val expG = HoltWinters.run(
      series.zipWithIndex.map { case (v, i) => HoltWinters.TV(i.toLong, v) }.toArray,
      5, m, 1L, withFit = false).map(p => (p.t, p.v)).toSeq
    val expNull = HoltWinters.run(
      series.zipWithIndex.map { case (v, i) => HoltWinters.TV(i.toLong, v + 1.0) }.toArray,
      5, m, 1L, withFit = false).map(p => (p.t, p.v)).toSeq
    for (dmp <- Seq(64L * 1024, 0L)) {
      val got = HoltWinters.holtWintersAuto(df, "g", "t", "v", 5, m, 1L,
        driverFitMaxPoints = dmp)
      val gotG = got.where(col("g") === "g").orderBy("t")
        .select("t", "v").as[(Long, Double)].collect().toSeq
      val gotNull = got.where(col("g").isNull).orderBy("t")
        .select("t", "v").as[(Long, Double)].collect().toSeq
      assert(gotG == expG, s"driverFitMaxPoints=$dmp")
      assert(gotNull == expNull, s"driverFitMaxPoints=$dmp")
    }
  }

  test("holtWintersAuto leaves a caller-managed persist in place") {
    val df = series.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("g", "t", "v").persist()
    try {
      df.count()
      HoltWinters.holtWintersAuto(df, "g", "t", "v", 5, m, 1L).count()
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally df.unpersist()
  }

  test("randLambda is reproducible for a fixed seed and bounded by n") {
    import graft.functions.TickFunctions
    val df = spark.range(1000).coalesce(1)
    val a = df.select(TickFunctions.randLambda(42L, 100L).as("r")).as[Long].collect()
    val b = df.select(TickFunctions.randLambda(42L, 100L).as("r")).as[Long].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(x => x >= 0 && x < 100))
    assert(a.distinct.length > 50) // actually random, not constant
    val unbounded = df.select(TickFunctions.randLambda(7L).as("r")).as[Long].collect()
    assert(unbounded.forall(_ >= 0) && unbounded.distinct.length > 900)
  }
}
