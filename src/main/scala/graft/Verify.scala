package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // dev mode: `runMain graft.Verify <sfDir> <outDir> q_a q_b` dumps only
    // the named queries (plus the full oracle_sql.json) for focused
    // oracle iteration; the driver's 2-arg invocation is unchanged
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = graft.Graft.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // The rows-only entries (no DuckDB oracle: Nelder-Mead fit, greedy
    // BPE, gradient descent). Assert value equality HERE against serial
    // driver arithmetic; on mismatch delete the dump so the driver's
    // rows>0 gate fails loudly instead of recording a hollow pass.
    val crossChecks: Seq[(String, () => Boolean)] = Seq(
      "q_holt_winters" ->
        (() => graft.queries.EventQueries.holtWintersCrossCheck(spark, sfDir)),
      "q_text_bpe" ->
        (() => graft.queries.LlmQueries.textBpeCrossCheck(spark, sfDir)),
      "q_text_classify" ->
        (() => graft.queries.LlmQueries.textClassifyCrossCheck(spark, sfDir)))
    crossChecks.filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, check) =>
      // An erroring cross-check is just as hollow as a failing one: the
      // value assertion never ran, so the dump must not survive to give
      // the driver a rows>0 pass. Only ok == true keeps the parquet.
      val ok =
        try check()
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name cross-check errored: ${e.getMessage}")
          false
        }
      if (ok) println(s"[verify] $name value cross-check passed")
      else {
        System.err.println(s"[verify] $name value cross-check FAILED — deleting dump")
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
        }
      }
    }
    import graft.tick.TickJson.{JObj, JStr, writeCompact}
    val json = writeCompact(JObj(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> JStr(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
