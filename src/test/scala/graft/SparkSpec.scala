package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs: small core count, tiny shuffle
  * partitioning — tests verify semantics, the bench verifies scale. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .appName("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the generated-code cache is JVM-wide and static: size it as the
    // engine does, whichever session triggers codegen first
    .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, Graft.CodegenCacheEntries.toLong)
    // checkpoints go through the engine's fork-free local filesystem
    .config(Graft.LocalCheckpointFsConf)
    .getOrCreate()
}
