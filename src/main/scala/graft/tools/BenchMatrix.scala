package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's throughput benchmark matrix
  * (integrations/benchmark_test.go:1-298) re-expressed Spark-first: the
  * same four task shapes over the same generated workload
  * (`m1 value=<i> <i>` at second precision, createWriteRequest:271-296),
  * the same two dimensions (task count T × point count P), the same
  * metric (points/sec = T·P / wall, benchmark_test.go:11 definition),
  * and the same Matches/NoMatches fork-miss split for the simple task.
  *
  * The structural translation: the reference fans ONE stream to T
  * identical task DAGs over channel edges — per-task goroutine
  * pipelines. A Spark cluster does not run 1000 tiny independent jobs;
  * it makes the task id a DIMENSION: `explode(sequence(0, T-1))` crosses
  * every point with every task in ONE plan, and per-task state becomes a
  * (task_id, …) group key. Every cell validates the reference's
  * validateTasks law (the tasks together processed exactly T·P matched
  * points) before the timing is accepted, and every drain aggregates
  * THROUGH the task's computation (level counts, eval sums) so Catalyst
  * cannot prune the work being measured. A `jobs` cell (T separate Spark
  * query executions) is reported for the smallest T as the honest cost
  * of the naive translation — the gap between it and the dimension form
  * is the design argument, quantified.
  *
  * Line-protocol text generation is part of each timed run's plan, like
  * the reference's pre-built HTTP body being re-served per iteration:
  * the timed path is generate+parse → fan-out → pipeline → drain,
  * mirroring write→parse→fork→DAG-completion.
  */
object BenchMatrix {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** P reference-workload points of `measurement`, through the real
    * line-protocol parser (precision 's': the raw trailing integer is
    * seconds, kept as t_s). */
  private def points(spark: SparkSession, p: Int, measurement: String): DataFrame = {
    import spark.implicits._
    val lines = spark.range(p.toLong)
      .select(concat(lit(s"$measurement value="), col("id"),
        lit(" "), lpad(col("id").cast("string"), 10, "0")).as("line"))
      .as[String]
    graft.sources.LineProtocol.parse(lines, 0L).toDF()
      .select(col("measurement"),
        element_at(col("fieldsFloat"), "value").as("value"),
        col("timeNs").as("t_s"))
  }

  private def fanOut(df: DataFrame, tasks: Int): DataFrame =
    df.select(col("*"),
      explode(sequence(lit(0), lit(tasks - 1))).as("task_id"))

  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session("graft-bench-matrix")
    spark.sparkContext.setLogLevel("WARN")

    val cells = scala.collection.mutable.LinkedHashMap[String, Double]()
    def record(name: String, basisPoints: Long, secs: Double): Unit = {
      cells(name) = basisPoints / secs
      System.err.println(f"[matrix] $name%-28s ${basisPoints / secs}%,.0f pts/s (${secs}%.2f s)")
    }

    /** Warm once (b.ResetTimer), time once, validate the processed
      * count (validateTasks), report basis/secs. */
    def run(name: String, basis: Long, expectProcessed: Long)(body: => Long): Unit = {
      body
      val (got, secs) = time(body)
      require(got == expectProcessed, s"$name processed $got, expected $expectProcessed")
      record(name, basis, secs)
    }

    val ts = Seq(10, 100, 1000)
    val ps = Seq(5000, 50000)

    // ---- SimpleTask: pass-through from().measurement('m1') ----------
    for (t <- ts) {
      val p = 5000
      run(s"simple_T${t}_P${p}_matches", t.toLong * p, t.toLong * p) {
        fanOut(points(spark, p, "m1"), t)
          .filter(col("measurement") === "m1").count()
      }
      // NoMatches: the write is m2, every task's fork misses; the basis
      // stays T·P (the reference divides tasksCount×pointCount by ns/op
      // regardless of matches)
      run(s"simple_T${t}_P${p}_nomatches", t.toLong * p, 0L) {
        fanOut(points(spark, p, "m2"), t)
          .filter(col("measurement") === "m1").count()
      }
    }

    // ---- CountTask: window(100s).count('value') ---------------------
    for (t <- ts; p <- ps) {
      val windows = math.ceil(p / 100.0).toLong
      run(s"count_T${t}_P${p}", t.toLong * p, t * windows) {
        fanOut(points(spark, p, "m1"), t)
          .filter(col("measurement") === "m1")
          .groupBy(col("task_id"), expr("t_s DIV 100").as("w"))
          .agg(count(lit(1)).as("count"))
          .count()
      }
    }

    // ---- AlertTask: 3-level classification --------------------------
    // drain = counts BY level, so the classification cannot be pruned
    for (t <- ts; p <- ps) {
      run(s"alert_T${t}_P${p}", t.toLong * p, t.toLong * p) {
        fanOut(points(spark, p, "m1"), t)
          .filter(col("measurement") === "m1")
          .select(col("task_id"),
            when(col("value") > 30, "CRITICAL")
              .when(col("value") > 20, "WARNING")
              .when(col("value") > 10, "INFO")
              .otherwise("OK").as("level"))
          .groupBy(col("level")).count()
          .collect().map(_.getLong(1)).sum
      }
    }

    // ---- JoinTask: join(m2).tolerance(1s) |eval(m1*m2) --------------
    // drain = count + sum(eval), so the product cannot be pruned
    for (t <- ts; p <- ps) {
      run(s"join_T${t}_P${p}", t.toLong * p, t.toLong * p) {
        val m1 = fanOut(points(spark, p, "m1"), t)
          .select(col("task_id"), col("t_s"), col("value").as("v1"))
        val m2 = points(spark, p, "m2")
          .select(col("t_s").as("t2_s"), col("value").as("v2"))
        // tolerance 1s at second precision = equal buckets; the m2 side
        // is task-agnostic, so broadcast it instead of fanning it out
        val joined = m1.join(broadcast(m2), col("t_s") === col("t2_s"))
          .select(col("task_id"), (col("v1") * col("v2")).as("value"))
        val row = joined.agg(count(lit(1)), sum(col("value"))).collect().head
        require(row.getDouble(1) > 0, "eval sum must be computed")
        row.getLong(0)
      }
    }

    // ---- the naive translation, for the design argument ------------
    {
      val t = 10; val p = 5000
      val src = points(spark, p, "m1").cache()
      src.count()
      for (_ <- 0 until 2) src.filter(col("measurement") === "m1").count() // warm
      val (_, secs) = time {
        for (_ <- 0 until t) src.filter(col("measurement") === "m1").count()
      }
      src.unpersist()
      record(s"simple_T${t}_P${p}_as_jobs", t.toLong * p, secs)
    }

    import graft.tick.TickJson.{JFloat, JObj, JStr, obj, writeCompact}
    val json = writeCompact(obj(
      "metric" -> JStr("matrix_points_per_sec"),
      "cells" -> JObj(cells.toSeq.map { case (k, v) =>
        k -> JFloat(BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble) })))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_matrix.json"), json)
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}
