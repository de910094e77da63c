package graft.tools

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev tool: scan every SparkEntry query's physical plan for scale
  * red flags (cartesian products, single-partition exchanges other than
  * the one directly under the root global sort, nested-loop joins).
  *
  * Known-intentional flags (all tiny-side broadcasts, reviewed):
  *   - q_deadman: bucket-range × group-universe cross join — both sides
  *     are one-row/few-row aggregates; the raw stream is scanned once.
  *   - q_knn_bruteforce: crossJoin(broadcast(queries)) by design.
  *   - q_sideload: the constant "default" hierarchy level joins on a
  *     literal key — a broadcast of a 4-row config table.
  *   - q_knn_ivf: the nlist-row centroid table fans out via broadcast for
  *     the PROBE side only (queries × nlist rows); corpus assignment is
  *     the shuffle-free literal fold (Similarity.assignToCenters) — the
  *     IVF coarse quantizer is a model object, not a data-sized side.
  *   - q_batch_periods / q_fill_*: the generated period/bucket axis is a
  *     single-partition sequence by construction (tiny).
  *   - q_stats_emit: the ticker grid (a generated sequence off a one-row
  *     min/max bounds aggregate — the single-partition exchange) crossed
  *     with the BROADCAST bounded stat registry (PlanSpec:128 pins it);
  *     the observation history itself never cross-joins.
  *   - q_pipeline_curate: the unigram-LM training total (`agg(sum(cnt))`)
  *     is a global aggregate — partial per partition, then ONE row per
  *     partition into the single-partition final agg; bounded at any
  *     corpus size (the canonical two-phase global agg, not a data
  *     funnel).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // AQE off so static ReuseExchange is visible and duplicate subtrees
    // countable (pass aqe=1 to audit the adaptive initial plans instead)
    spark.conf.set("spark.sql.adaptive.enabled", args.contains("aqe=1").toString)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val exec = fn(spark, dir).queryExecution.executedPlan
        val plan = exec.toString
        // every single-partition exchange but the one that feeds the root
        // global sort: a small result sorts in one task (GraftExtensions)
        val singles = "Exchange SinglePartition".r.findAllIn(plan).size -
          (if (feedsRootSort(exec)) 1 else 0)
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
          "SinglePartitionExchange" -> (singles > 0))
          .filter(_._2).map(_._1)
        if (flags.nonEmpty) println(s"== FLAG $name: ${flags.mkString(",")}")
        // duplicate-work telemetry (the r20 tfidf class of defect): high
        // scan counts mean the same table is re-read per branch — fine
        // when it's the documented rescan-over-cache trade, a defect when
        // a broken ReuseExchange silently doubles a corpus pass
        println(s"== WORK $name ${Explain.workCounts(plan)}")
      } catch { case e: Throwable => println(s"== ERR $name: ${e.getMessage.take(80)}") }
    }
    println("== audit done")
    spark.stop()
  }

  /** Whether the plan's root is a global sort directly over a
    * single-partition exchange (in an adaptive plan, the current one). */
  private def feedsRootSort(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => feedsRootSort(a.executedPlan)
    case SortExec(_, true, e: ShuffleExchangeExec, _) => e.outputPartitioning == SinglePartition
    case _ => false
  }
}
