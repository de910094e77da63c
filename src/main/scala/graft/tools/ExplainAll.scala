package graft.tools

/** Dev tool: dump `.explain("formatted")` for a list of queries into
  * files — one Spark session for the whole batch (tools.Explain pays a
  * JVM+session per query).
  *
  * Usage: runMain graft.tools.ExplainAll <outDir> <suffix> q1 q2 ...
  * writes <outDir>/<query>_<suffix>.txt per query. sfDir from
  * SPARK_GRAFT_SF_DIR (default sf0.01). AQE off so static ReuseExchange
  * and the full operator list are visible (the PlanAudit convention).
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainAll <outDir> <suffix> q1 q2 ...")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Graft.session("graft-explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val qe = df.queryExecution
        val formatted = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val header =
          s"== $name sf=$dir aqe=0 ${Explain.workCounts(qe.executedPlan.toString)}\n\n"
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$suffix.txt"), header + formatted)
        println(s"== wrote $name")
      } catch { case e: Throwable =>
        println(s"== ERR $name: ${e.getMessage.take(200)}")
      }
    }
    spark.stop()
  }
}
