package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Out-of-process UDF bridge — the migration seam for reference `@udf`
  * child processes (udf.go:33-411 spawns one agent process per node and
  * speaks a varint-framed protobuf protocol, udf/agent/udf.proto:1-230).
  *
  * The Spark-native re-expression drops the bespoke framing and speaks the
  * wire format the rest of this library already round-trips: one
  * line-protocol point per stdin line in, zero or more line-protocol points
  * per stdout line out (so a child can map, filter, or fan out — the
  * reference's Point stream allows the same 1→N shapes). One child process
  * per PARTITION, not per node-instance: at 1000 executors that is one
  * process per task slot with no driver involvement, and the child sees a
  * bounded stream it can process incrementally. A writer thread feeds stdin
  * while the task thread consumes stdout, so a child that answers 1:1
  * cannot deadlock on full pipe buffers; stderr is drained concurrently and
  * surfaced (bounded) in the failure message when the child exits non-zero.
  *
  * Works unchanged under Structured Streaming: `mapPartitions` runs per
  * micro-batch, so a streaming source spawns one child per partition per
  * batch (parity with batch output is spec-asserted).
  *
  * A child that stops reading stdin and never writes stdout stalls its
  * task (line protocol has no keepalive message) — the cluster-level
  * guards apply: task speculation re-attempts the slow task and the
  * completion listener kills the orphaned child. The protobuf bridge
  * ([[UdfProto]]) DOES drive the reference's Keepalive probe; an agent
  * needing stall detection should migrate there. A crashed child is NOT silent:
  * stdout EOF triggers the exit-code check and the task fails with the
  * captured stderr.
  *
  * Scope vs the reference (documented in SURVEY §2.9): Init options become
  * `cmd` arguments; Snapshot/Restore does not apply — the child is
  * stateless per batch/partition by contract, exactly like a shuffle task.
  * A stateful UDF should migrate to `mapGroupsWithState` /
  * `Aggregator` instead, where Spark owns the checkpointing; in-process
  * scalar UDFs migrate to Scala `udf()` or a Catalyst `Expression`.
  */
object ProcessUdf {

  /** Pipe each partition's lines through `cmd` (argv, not shell-parsed).
    * Lazily streams: stdout lines are emitted as produced; the child's exit
    * status is checked when its stdout closes, failing the task with the
    * captured stderr on a non-zero exit. Empty partitions spawn nothing. */
  def pipeLines(lines: Dataset[String], cmd: Seq[String]): Dataset[String] = {
    val spark = lines.sparkSession
    import spark.implicits._
    require(cmd.nonEmpty, "ProcessUdf: empty command")
    val argv = cmd // stable serializable capture
    lines.mapPartitions(it => runPartition(argv, it))
  }

  /** One child process for one partition's input iterator. Visible for the
    * driver-side spec; normally invoked inside mapPartitions. The child's
    * lifecycle — spawn, bounded stderr drain, task-context helper threads,
    * kill on task end, exit-code wait — is [[UdfProto]]'s process
    * transport; only the line framing is this bridge's own. */
  def runPartition(cmd: Seq[String], input: Iterator[String]): Iterator[String] = {
    if (!input.hasNext) return Iterator.empty
    val child = new UdfProto.ProcessTransport(cmd, TaskContext.get())
    @volatile var writeError: Throwable = null
    val writer = child.startThread("graft-udf-stdin") {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(child.out, java.nio.charset.StandardCharsets.UTF_8))
      try {
        input.foreach { l => w.write(l); w.write('\n') }
      } catch {
        // Child closed stdin early (e.g. `head`-like consumers): stop
        // writing, keep reading its output. Anything else is a task error.
        case _: java.io.IOException => ()
        case t: Throwable           => writeError = t
      } finally {
        try w.close() catch { case _: java.io.IOException => () }
      }
    }
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(child.in, java.nio.charset.StandardCharsets.UTF_8))
    new Iterator[String] {
      private var nextLine: String = reader.readLine()
      private var finished = false
      private def finish(): Unit = if (!finished) {
        finished = true
        writer.join()
        val (code, err) = child.waitDone()
        if (writeError != null) throw writeError
        if (code != 0)
          throw new RuntimeException(
            s"ProcessUdf child '${child.describe}' exited $code" +
              (if (err.nonEmpty) s": $err" else ""))
      }
      override def hasNext: Boolean = {
        if (nextLine != null) true
        else { finish(); false }
      }
      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException("ProcessUdf output exhausted")
        val l = nextLine
        nextLine = reader.readLine()
        l
      }
    }
  }

  /** Whole-frame transform: serialize rows to line protocol (the library's
    * canonical wire form, Sinks.toLineProtocol), pipe through `cmd`, parse
    * the child's output back to the canonical point frame
    * (LineProtocol.toPointFrame: measurement, tags, typed field maps,
    * time). Field columns are serialized wire-exact (ints as `42i`, strings
    * quoted) so a numeric field round-trips with its type. */
  def transform(
      df: DataFrame,
      cmd: Seq[String],
      measurement: Column,
      tags: Seq[(String, Column)],
      fieldCols: Seq[String],
      timeNs: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fields = fieldCols.map(f => f -> Sinks.lineFieldValue(df, f))
    val lines = df
      .select(Sinks.toLineProtocol(measurement, tags, fields, timeNs).as("line"))
      .as[String]
    LineProtocol.toPointFrame(LineProtocol.parse(pipeLines(lines, cmd)))
  }
}
