package graft.tools

/** Dev tool: run one SparkEntry query and print its executed plan, plus a
  * one-line duplicate-work summary (scan / explode / exchange / reuse
  * counts — the signals behind the r20 tfidf find, where a pruning-broken
  * ReuseExchange silently tokenized the corpus twice).
  *
  * With `aqe=0` (the default here) static planning applies ReuseExchange,
  * so shared subtrees are VISIBLE as ReusedExchange nodes; under AQE the
  * same reuse happens at stage materialization but the printed plan hides
  * it (AdaptiveSparkPlan prints its initial plan until finalized).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.Explain q_name [sfDir] [aqe=1]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query> [sfDir] [aqe=0|1]"))
    val dir = args.lift(1).filterNot(_.startsWith("aqe="))
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val aqe = args.exists(_ == "aqe=1")
    val spark = graft.Graft.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val n = df.count()
    val p = df.queryExecution.executedPlan.toString
    println(s"== $name rows=$n sf=$dir aqe=$aqe ${workCounts(p)} " +
      s"rddScans=${"Scan ExistingRDD".r.findAllMatchIn(p).length}")
    println(p)
    spark.stop()
  }

  /** The duplicate-work counts of a printed physical plan, as
    * `scans=N explodes=N exchanges=N reused=N` (Explain, ExplainAll and
    * PlanAudit all print this). */
  def workCounts(plan: String): String = {
    def c(re: String): Int = re.r.findAllMatchIn(plan).length
    s"scans=${c("FileScan parquet")} explodes=${c("Generate (pos)?explode")} " +
      s"exchanges=${c("Exchange (hash|range)")} reused=${c("ReusedExchange")}"
  }
}
