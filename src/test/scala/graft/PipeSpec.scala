package graft

import graft.api.Pipe
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class PipeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long): Timestamp = new Timestamp(s * 1000)

  /** One group "a" with values 10,20,15,15 at t=0,10,20,30; group "b"
    * with 5 at t=0. */
  private def pipe: Pipe = {
    val df = Seq(
      ("a", ts(0), 10.0, 1L), ("a", ts(10), 20.0, 2L),
      ("a", ts(20), 15.0, 3L), ("a", ts(30), 15.0, 4L),
      ("b", ts(0), 5.0, 5L))
      .toDF("g", "time", "v", "id")
    Pipe(df, timeCol = "time", dims = Seq("g"), idCol = Some("id"))
  }

  test("difference emits value deltas, first point dropped") {
    val out = pipe.difference("v", "d").df.select("g", "d").as[(String, Double)].collect().toSet
    assert(out == Set(("a", 10.0), ("a", -5.0), ("a", 0.0)))
  }

  test("elapsed emits seconds between consecutive points") {
    val out = pipe.elapsed(1.0, "e").df.orderBy("id").select("e").as[Double].collect().toSeq
    assert(out == Seq(10.0, 10.0, 10.0))
  }

  test("derivative is delta-v per unit time, nonNegative drops falls") {
    val out = pipe.derivative("v", 1.0, nonNegative = false, "r").df
      .orderBy("id").select("r").as[Double].collect().toSeq
    assert(out == Seq(1.0, -0.5, 0.0))
    val nn = pipe.derivative("v", 1.0, nonNegative = true, "r").df
      .orderBy("id").select("r").as[Double].collect().toSeq
    assert(nn == Seq(1.0, 0.0))
  }

  test("movingAverage emits only once the window is full") {
    val out = pipe.movingAverage("v", 2, "m").df.orderBy("id").select("m").as[Double].collect().toSeq
    assert(out == Seq(15.0, 17.5, 15.0))
  }

  test("cumulativeSum runs per group") {
    val out = pipe.cumulativeSum("v", "c").df
      .select("g", "c").as[(String, Double)].collect().toSet
    assert(out == Set(("a", 10.0), ("a", 30.0), ("a", 45.0), ("a", 60.0), ("b", 5.0)))
  }

  test("changeDetect keeps first point and drops repeats of the emitted value") {
    val out = pipe.changeDetect("v").df.orderBy("id").select("v").as[Double].collect().toSeq
    assert(out == Seq(10.0, 20.0, 15.0, 5.0))
  }

  test("changeDetect collapses consecutive nulls to a single emit") {
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, None), (4L, Some(1.0)))
      .toDF("id", "v").withColumn("time", timestamp_seconds(col("id")))
    val p = Pipe(df, dims = Nil, idCol = Some("id"))
    val ids = p.changeDetect("v").df.orderBy("id").select("id").as[Long].collect().toSeq
    assert(ids == Seq(1L, 2L, 4L))
  }

  test("stateCount counts consecutive true runs, -1 when false") {
    val out = pipe.stateCount(col("v") >= 15, "sc").df
      .orderBy("id").select("sc").as[Long].collect().toSeq
    assert(out == Seq(-1L, 1L, 2L, 3L, -1L))
  }

  test("stateDuration measures seconds since the run began") {
    val out = pipe.stateDuration(col("v") >= 15, "sd").df
      .orderBy("id").select("sd").as[Double].collect().toSeq
    assert(out == Seq(-1.0, 0.0, 10.0, 20.0, -1.0))
  }

  test("stateful count()/spread() lambdas run per group in time order") {
    import graft.functions.TickFunctions
    val out = pipe.df
      .withColumn("cnt", TickFunctions.runningCount(Seq(col("g")), col("time"), Seq(col("id"))))
      .withColumn("spr", TickFunctions.runningSpread(col("v"), Seq(col("g")), col("time"), Seq(col("id"))))
      .orderBy("id").select("cnt", "spr").as[(Long, Double)].collect().toSeq
    // group a: v = 10,20,15,15 → spread 0,10,10,10; group b: single point
    assert(out == Seq((1L, 0.0), (2L, 10.0), (3L, 10.0), (4L, 10.0), (1L, 0.0)))
  }

  test("sampleN keeps every nth point per group, counting from the first") {
    // reference sample.go: count%n==0 with count starting at 0 → the 1st,
    // n+1th, … points are kept (pinned by the TestStream_Sample fixture)
    val out = pipe.sampleN(2).df.select("id").as[Long].collect().toSeq.sorted
    assert(out == Seq(1L, 3L, 5L))
  }

  test("shift moves time forward") {
    val out = pipe.shift(60).df.filter(col("id") === 1).select("time")
      .as[Timestamp].head()
    assert(out == ts(60))
  }

  test("default fills nulls and missing columns") {
    val p = pipe.eval("w" -> when(col("v") > 12, col("v")))
      .default("w" -> 0.0, "tag" -> "x")
    val out = p.df.orderBy("id").select("w").as[Double].collect().toSeq
    assert(out == Seq(0.0, 20.0, 15.0, 15.0, 0.0))
    assert(p.df.columns.contains("tag"))
  }

  test("groupByStar canonicalizes dynamic tag maps into one group key") {
    val df = Seq(
      (1L, Map("b" -> "2", "a" -> "1"), "cpu"),
      (2L, Map("a" -> "1", "b" -> "2"), "cpu"), // same tags, different order
      (3L, Map("a" -> "1"), "cpu"))
      .toDF("id", "tags", "measurement")
      .withColumn("time", timestamp_seconds(col("id")))
    val p = Pipe(df, dims = Nil, idCol = Some("id")).groupByStar()
    val keys = p.df.select("id", "group_id").as[(Long, String)].collect().toMap
    assert(keys(1L) == keys(2L) && keys(1L) == "a=1,b=2")
    assert(keys(3L) == "a=1")
    val pm = Pipe(df, dims = Nil).groupByStar(byMeasurement = true)
    assert(pm.df.select("group_id").as[String].head().startsWith("cpu\n"))
    assert(pm.dims == Seq("group_id"))
  }

  test("flattenOn pivots per-dim values into prefixed columns") {
    val df = Seq(
      ("click", 1L, ts(5), 1.0), ("view", 2L, ts(7), 2.0), ("click", 3L, ts(65), 3.0))
      .toDF("kind", "id", "time", "v")
    val p = Pipe(df, dims = Seq("kind"), idCol = Some("id"))
      .flattenOnFields("kind", Seq("click", "view"), Seq("v"), 60, delimiter = "_")
    val out = p.df.orderBy("bucket_s")
      .select("bucket_s", "click_v", "view_v")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(out == Seq((0L, Some(1.0), Some(2.0)), (60L, Some(3.0), None)))
  }

  test("combinePairs emits ordered in-bucket combinations") {
    val df = Seq(
      (1L, ts(5), 95.0), (2L, ts(10), 96.0), (3L, ts(20), 97.0), (4L, ts(4000), 99.0))
      .toDF("id", "time", "v")
    val p = Pipe(df, dims = Nil, idCol = Some("id"))
    val pairs = p.combineK(Seq(col("v") > 90, col("v") > 90), 3600, Seq("a", "b"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L))) // id 4 in a later bucket
  }

  test("combineK emits ordered triples; different predicates pin positions") {
    val df = Seq(
      (1L, ts(5), 95.0), (2L, ts(10), 96.0), (3L, ts(20), 97.0), (4L, ts(30), 50.0))
      .toDF("id", "time", "v")
    val p = Pipe(df, dims = Nil, idCol = Some("id"))
    val same = col("v") > 90
    val triples = p.combineK(Seq(same, same, same), 3600, Seq("a", "b", "c"))
      .select("a_id", "b_id", "c_id").as[(Long, Long, Long)].collect().toSet
    assert(triples == Set((1L, 2L, 3L)))
    // heterogeneous predicates: low value must occupy the last position
    val mixed = p.combineK(Seq(same, same, col("v") < 60), 3600, Seq("a", "b", "c"))
      .select("a_id", "b_id", "c_id").as[(Long, Long, Long)].collect().toSet
    assert(mixed == Set((1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("combineK raises when a bucket exceeds the combination cap") {
    val df = (1L to 10L).map(i => (i, ts(i), 95.0)).toDF("id", "time", "v")
    val p = Pipe(df, dims = Nil, idCol = Some("id"))
    // C(10,2)=45 > 40 → the reference errors the task (combine.go:232-259)
    val e = intercept[Exception] {
      p.combineK(Seq(col("v") > 90, col("v") > 90), 3600, Seq("a", "b"), maxCombinations = 40).count()
    }
    assert(e.getMessage.contains("exceed") || e.getCause != null)
    // under the cap: all 45 pairs emit with max=45
    assert(p.combineK(Seq(col("v") > 90, col("v") > 90), 3600, Seq("a", "b"),
      maxCombinations = 45).count() == 45)
  }

  test("flattenOnFields prefixes every field; dropOriginalFieldName collapses names") {
    val df = Seq(
      ("click", 1L, ts(5), 1.0), ("view", 2L, ts(7), 2.0), ("click", 3L, ts(65), 3.0))
      .toDF("kind", "id", "time", "v")
    val p = Pipe(df, dims = Seq("kind"), idCol = Some("id"))
      .flattenOnFields("kind", Seq("click", "view"), Seq("v", "id"), 60)
    assert(p.df.columns.toSet == Set("bucket_s", "click.v", "click.id", "view.v", "view.id"))
    val row = p.df.orderBy("bucket_s")
      .select(col("bucket_s"), col("`click.v`"), col("`click.id`"), col("`view.id`"))
      .as[(Long, Option[Double], Option[Long], Option[Long])].collect().toSeq
    assert(row == Seq((0L, Some(1.0), Some(1L), Some(2L)), (60L, Some(3.0), Some(3L), None)))
    val dropped = Pipe(df, dims = Seq("kind"), idCol = Some("id"))
      .flattenOnFields("kind", Seq("click", "view"), Seq("v"), 60, dropOriginalFieldName = true)
    assert(dropped.df.columns.toSet == Set("bucket_s", "click", "view"))
  }

  test("withOrdinal two-phase ranking equals the single-window row_number") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(3)
    val df = (1 to 500).map { i =>
      (s"g${i % 3}", ts(rnd.nextInt(20000)), i.toLong)
    }.toDF("g", "time", "id")
    val p = Pipe(df, dims = Seq("g"), idCol = Some("id"))
    val twoPhase = p.withOrdinal("rn", chunkSeconds = 600).df
      .select("g", "id", "rn").as[(String, Long, Long)].collect().toSet
    val single = df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("time", "id")).cast("long"))
      .select("g", "id", "rn").as[(String, Long, Long)].collect().toSet
    assert(twoPhase == single)
  }

  test("joinTolerance buckets on rounded time per key") {
    val l = Pipe(Seq((1L, ts(0), 1.0)).toDF("k", "time", "x"), dims = Nil)
    val r = Pipe(Seq((1L, ts(25), 2.0)).toDF("k", "time", "y"), dims = Nil)
    // 25s rounds to 0 at 60s tolerance → joins; at 10s tolerance → 30 ≠ 0
    assert(l.joinTolerance(r, 60, ("l", "r"), Seq("k")).count() == 1)
    assert(l.joinTolerance(r, 10, ("l", "r"), Seq("k")).count() == 0)
  }

  test("evalKeep fails loudly on a typo'd keep column; tolerates absent idCol metadata") {
    val df = Seq((new java.sql.Timestamp(0L), 1.0)).toDF("time", "value")
    // idCol metadata may be absent after an upstream agg — still fine
    val p = Pipe(df, "time", Nil, None, idCol = Some("rid"))
    assert(p.evalKeep(Seq("value")).df.columns.toSeq == Seq("time", "value"))
    // but a USER keep column that doesn't exist is an error, not a silent drop
    val err = intercept[IllegalArgumentException] {
      p.evalKeep(Seq("valeu"))
    }
    assert(err.getMessage.contains("valeu"))
  }
}
