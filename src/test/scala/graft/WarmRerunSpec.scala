package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A batch task re-runs the same query every period; a warm re-run must
  * pay neither the Janino compile of its generated code nor the parquet
  * schema inference of its input. */
class WarmRerunSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private val batchTasks = Seq(
    "q_mean_hour", "q_median_day", "q_percentile90_day", "q_top3", "q_derivative",
    "q_moving_average", "q_window_sliding", "q_window_aligned", "q_batch_periods",
    "q_join_tolerance", "q_alert_state_changes", "q_deadman", "q_fill_linear",
    "q_state_duration", "q_holt_winters")

  /** Jobs `body` starts, counted by a listener. Marker jobs before and
    * after it bracket the count: the listener bus delivers in order. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p => Option(p.getProperty("marker")))
          .getOrElse("job"))
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty("marker", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("marker", null)
    }
    def next(): String = {
      val m = started.poll(60, TimeUnit.SECONDS)
      assert(m != null, "listener bus delivered no job start within 60 s")
      m
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      Iterator.continually(next()).dropWhile(_ != "start").drop(1).takeWhile(_ != "end").size
    } finally sc.removeSparkListener(listener)
  }

  test("a warm re-run of the batch-task queries compiles under 10% of the cold run's classes") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def pass(): Long = {
      val before = compiles.getCount
      batchTasks.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
      compiles.getCount - before
    }
    // The cache keys a class by the thread's context class loader as well
    // as its code: a fresh loader makes the driver-side compiles of the
    // first pass cold whichever specs ran before this one.
    val thread = Thread.currentThread()
    val saved = thread.getContextClassLoader
    thread.setContextClassLoader(new java.net.URLClassLoader(Array.empty, saved))
    val (cold, warm) =
      try { val c = pass(); (c, pass()) }
      finally thread.setContextClassLoader(saved)
    assert(cold > 0)
    assert(warm * 10 < cold, s"cold pass compiled $cold classes, warm pass $warm")
  }

  test("a second Graft.events read launches no job and returns the same schema") {
    val first = Graft.events(spark, sf).schema
    var second: org.apache.spark.sql.types.StructType = null
    assert(jobsStartedBy { second = Graft.events(spark, sf).schema } === 0)
    assert(second === first)
  }

  test("a parquet table rewritten at the same path with another schema is inferred again") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString + "/t.parquet"
    Seq((1L, 2.0)).toDF("a", "b").write.mode("overwrite").parquet(dir)
    assert(Graft.parquet(spark, dir).columns.toSeq === Seq("a", "b"))
    assert(Graft.parquet(spark, dir).columns.toSeq === Seq("a", "b"))
    Seq(("x", 3, true)).toDF("c", "d", "e").write.mode("overwrite").parquet(dir)
    val reread = Graft.parquet(spark, dir)
    assert(reread.columns.toSeq === Seq("c", "d", "e"))
    assert(reread.as[(String, Int, Boolean)].collect().toSeq === Seq(("x", 3, true)))
  }
}
