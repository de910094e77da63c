package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** Spark extensions entry point: injects graft's SQL functions and
  * planner rules at session build time, so a cluster user enables the
  * whole library with
  *   spark.sql.extensions=graft.GraftExtensions
  * and gets `graft_dot`, `graft_minhash16`, `graft_shingles3` and
  * `graft_isect` in SQL on every session. This is the only name-bound
  * surface: Column-land builds its native expressions directly
  * (org.apache.spark.sql.graft.ColumnBridge). `Graft.EngineConf` sets it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.expressions.DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash16"),
      new ExpressionInfo(classOf[graft.expressions.MinHashSig].getName, "graft_minhash16"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.MinHashSig(exprs.head, graft.llm.TextOps.minhashConsts(16))))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles3"),
      new ExpressionInfo(classOf[graft.expressions.ShingleHashes].getName, "graft_shingles3"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.ShingleHashes(exprs.head, 3, distinct = true)))
    ext.injectFunction((
      new FunctionIdentifier("graft_isect"),
      new ExpressionInfo(classOf[graft.expressions.IntersectCountSorted].getName, "graft_isect"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expressions.IntersectCountSorted(exprs(0), exprs(1))))
    // AQE runs its stage-prep rules on the initial plan and again at every
    // re-optimisation, so the size test below sees runtime statistics once
    // the sort's input stage has run
    ext.injectQueryStagePrepRule(_ => SmallSortSinglePartition)
    // runs while an incremental execution prepares a micro-batch's
    // executed plan, before codegen stages capture the scan
    ext.injectColumnar(_ => MicroBatchInputRule)
  }
}

/** Keeps each micro-batch's input rows out of its plan
  * ([[graft.streaming.MicroBatchInputOutOfPlan]]). */
object MicroBatchInputRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = graft.streaming.MicroBatchInputOutOfPlan
}

/** A global sort whose input is at most `spark.sql.autoBroadcastJoinThreshold`
  * sorts in one task. The planner meets a sort's ordered distribution with
  * a range exchange, and `RangePartitioner` first runs a sampling job that
  * recomputes everything since the previous shuffle, so a small sorted
  * result computes its last stage twice. A single-partition exchange also
  * satisfies the ordered distribution: no sampling job runs, and the sort
  * above it sorts that one partition.
  *
  * The input size is the logical statistics of the exchange's child: the
  * scan estimate in the initial plan, and the materialised stages' runtime
  * sizes at each AQE re-optimisation. Only an exchange the planner added
  * to meet a requirement changes; a user's `repartitionByRange` keeps its
  * partitions. Above the threshold, with the threshold disabled (-1), or
  * with AQE off (the rule is AQE's), the plan keeps its range exchange, so
  * a sort larger than a broadcast still range-partitions. */
object SmallSortSinglePartition extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if child.logicalLink.exists(_.stats.sizeInBytes <= threshold) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }
}
