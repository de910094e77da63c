package graft.streaming

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{InputPartition, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec

/** A micro-batch scan whose input partitions stay on the driver.
  *
  * Spark's `MicroBatchScanExec.inputPartitions` is a serialized lazy val,
  * and an in-memory or socket source's partitions hold the batch's rows.
  * Every closure over the plan then carries the whole batch: each codegen
  * stage reaches the scan through its references, so the closure cleaner's
  * serializability checks and both task binaries of a stateful write
  * serialize it, and every task deserializes it. Here the partitions are
  * transient: the driver still builds the scan's RDD from them, and each
  * task still receives its own partition, but the plan no longer holds
  * them.
  *
  * `input` yields the partitions of the node this one replaces, so they
  * are planned at most once per micro-batch (a Kafka source plans with
  * I/O), lazily, and handed over if that node has already planned them. */
class MicroBatchInputScanExec(
    output: Seq[Attribute],
    scan: Scan,
    stream: MicroBatchStream,
    start: Offset,
    end: Offset,
    keyGroupedPartitioning: Option[Seq[Expression]],
    ordering: Option[Seq[SortOrder]])(
    @transient private val input: () => Seq[InputPartition])
  extends MicroBatchScanExec(output, scan, stream, start, end, keyGroupedPartitioning, ordering) {

  @transient override lazy val inputPartitions: Seq[InputPartition] = input()

  override def nodeName: String = "MicroBatchScan"

  override protected def otherCopyArgs: Seq[AnyRef] = input :: Nil

  // Spark's scan equals any scan of the same stream, this one included, and
  // a tree rewrite keeps the old child when the new one equals it
  override def equals(other: Any): Boolean = other match {
    case o: MicroBatchInputScanExec => super.equals(o)
    case _ => false
  }
}

/** Replaces every `MicroBatchScanExec` of a plan with a
  * [[MicroBatchInputScanExec]] over the same stream and offsets. Batch
  * plans have no such scan and come back unchanged. Injected before
  * columnar transitions, which run while an incremental execution
  * prepares its executed plan. The parents are rebuilt with
  * `withNewChildren`, which keeps a child that equals the one it had;
  * Spark's scan would equal the new one, so the new one's `equals` tells
  * them apart. */
object MicroBatchInputOutOfPlan extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case _: MicroBatchInputScanExec => plan
    case s: MicroBatchScanExec =>
      new MicroBatchInputScanExec(s.output, s.scan, s.stream, s.start, s.end,
        s.keyGroupedPartitioning, s.ordering)(() => s.inputPartitions)
    case _ => plan.withNewChildren(plan.children.map(apply))
  }
}
