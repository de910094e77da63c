package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{count, sum}

/** The engine's sessions carry `GraftExtensions`, and its small-sort rule
  * returns exactly the rows, in exactly the order, of the range-partitioned
  * sort it replaces. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("the test session installs GraftExtensions: functions and the small-sort rule") {
    // a fresh session's registry holds only what the extensions inject
    Seq(spark, spark.newSession()).foreach { s =>
      val registry = s.sessionState.functionRegistry
      Seq("graft_dot", "graft_minhash16", "graft_shingles3", "graft_isect").foreach { f =>
        assert(registry.functionExists(FunctionIdentifier(f)), f)
      }
      assert(s.sessionState.adaptiveRulesHolder.queryStagePrepRules
        .contains(SmallSortSinglePartition))
      assert(s.sessionState.columnarRules.contains(MicroBatchInputRule))
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // two shapes, each ordered on a total key: a sort straight over an
  // eight-partition source (decided on the initial plan's estimate), and a
  // sort over an aggregate (decided on the shuffle stage's runtime size)
  private def sortedScan(): DataFrame =
    spark.range(0, 20000, 1, 8)
      .select(($"id" * 7919 % 1000).as("k"), $"id", ($"id" % 13).cast("double").as("v"))
      .orderBy($"k".desc, $"id")

  private def sortedAggregate(): DataFrame =
    spark.range(0, 20000, 1, 8)
      .groupBy(($"id" % 500).as("g"))
      .agg(sum("id").as("s"), count("*").as("n"))
      .orderBy($"s".desc, $"g")

  private def collected(df: DataFrame): (Seq[Seq[Any]], String) = {
    val rows = df.collect().toSeq.map(_.toSeq)
    (rows, df.queryExecution.executedPlan.toString)
  }

  test("a small global sort runs in one partition and returns the range sort's row sequence") {
    Seq("scan" -> (() => sortedScan()), "aggregate" -> (() => sortedAggregate()))
      .foreach { case (shape, frame) =>
        val (ranged, rangedPlan) =
          withConf("spark.sql.adaptive.enabled" -> "false")(collected(frame()))
        val (single, singlePlan) =
          withConf("spark.sql.adaptive.enabled" -> "true")(collected(frame()))
        assert(rangedPlan.contains("rangepartitioning"), s"$shape:\n$rangedPlan")
        assert(singlePlan.contains("Exchange SinglePartition") &&
          !singlePlan.contains("rangepartitioning"), s"$shape:\n$singlePlan")
        assert(single.nonEmpty && single == ranged, shape)
      }
  }
}
