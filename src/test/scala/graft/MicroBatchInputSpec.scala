package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.LineProtocol
import graft.streaming.{MicroBatchInputOutOfPlan, MicroBatchInputScanExec}

object MicroBatchInputSpec {
  /** A memory stream of lines that counts how often Spark plans its input. */
  final class CountingLines(id: Int, spark: SparkSession)
      extends MemoryStream[String](id, spark, None)(Encoders.STRING) {
    val planned = new AtomicInteger
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      planned.incrementAndGet()
      super.planInputPartitions(start, end)
    }
  }

  // host → the last average the stream emitted for it
  val emitted = new ConcurrentHashMap[String, Double]()
}

/** A micro-batch's plan keeps its input rows out: the executed plan, which
  * every closure and task binary of the batch serializes, stays the same
  * size however many rows the batch carries, while input-row counts,
  * results and checkpoint restarts are those of Spark's own scan. */
class MicroBatchInputSpec extends SparkSpec {
  import spark.implicits._
  import MicroBatchInputSpec._

  private def lines(from: Int, n: Int): Seq[String] =
    (from until from + n).map(i => s"cpu,host=h${i % 50} usage=${i % 97}.5 ${i.toLong * 1000}")

  // every usage is a multiple of 0.5 and every sum stays far below 2^52,
  // so the averages are exact whichever order the batches add them in
  private def averages(ds: Dataset[String]): DataFrame =
    LineProtocol.parse(ds)
      .select($"tags"("host").as("host"), $"fieldsFloat"("usage").as("usage"))
      .groupBy("host").avg("usage")

  private def batchAverages(all: Seq[String]): Map[String, Double] =
    averages(all.toDS()).as[(String, Double)].collect().toMap

  private def start(source: CountingLines, checkpoint: String): StreamingQuery =
    averages(source.toDS()).writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach { case Row(h: String, a: Double) => emitted.put(h, a) }
      }.start()

  private def executedPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  private def serializedBytes(o: AnyRef): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size()
  }

  private def dataBatches(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)

  test("a micro-batch plan's size does not grow with its rows; counts, results and restarts hold") {
    emitted.clear()
    val checkpoint = Files.createTempDirectory("graft_mbinput").toString
    val small = lines(0, 1000)
    val big = lines(1000, 100000)
    val later = lines(101000, 500)

    val src = new CountingLines(1 << 20, spark)
    val q1 = start(src, checkpoint)
    try {
      src.addData(small)
      q1.processAllAvailable()
      val smallBytes = serializedBytes(executedPlan(q1))
      src.addData(big)
      q1.processAllAvailable()
      val plan = executedPlan(q1)
      val bigBytes = serializedBytes(plan)
      // Spark's own scan holds all rows: about 80 bytes more per row
      assert(bigBytes < (1 << 20), s"100k-row plan: $bigBytes bytes")
      assert(bigBytes - smallBytes < 16 * 1024, s"1k rows: $smallBytes bytes, 100k rows: $bigBytes")

      val scans = plan.collect { case s: MicroBatchScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.isInstanceOf[MicroBatchInputScanExec]), plan)
      assert(plan.toString.contains("MicroBatchScan"), plan)
      assert(dataBatches(q1) == Seq(1000L, 100000L))
      assert(src.planned.get == 2, "input partitions are planned once per micro-batch")

      // the rule plans nothing itself: the new scan takes the partitions of
      // the scan it replaces, planned when first asked for and never twice
      val original = q1.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        .sparkPlan.collectFirst { case s: MicroBatchScanExec => s }.get
      val planned = src.planned.get
      val replaced = MicroBatchInputOutOfPlan(original).asInstanceOf[MicroBatchInputScanExec]
      assert(src.planned.get == planned)
      val partitions = original.inputPartitions
      assert(replaced.inputPartitions eq partitions)
      assert(src.planned.get <= planned + 1)
      assert(replaced != original)
    } finally q1.stop()

    assert(emitted.asScala.toMap == batchAverages(small ++ big))

    // a fresh source over the same checkpoint resumes after the committed
    // batches: only the later lines are read, on top of the restored state
    val src2 = new CountingLines((1 << 20) + 1, spark)
    src2.addData(small)
    src2.addData(big)
    val q2 = start(src2, checkpoint)
    try {
      src2.addData(later)
      q2.processAllAvailable()
      assert(dataBatches(q2) == Seq(500L))
      assert(src2.planned.get == 1)
    } finally q2.stop()
    assert(emitted.asScala.toMap == batchAverages(small ++ big ++ later))
  }

  test("batch plans come back from the rule unchanged") {
    val df = averages(lines(0, 100).toDS())
    val plan = df.queryExecution.sparkPlan
    assert(plan.children.nonEmpty && (MicroBatchInputOutOfPlan(plan) eq plan))
    assert(df.collect().length == 50)
  }
}
