package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.StructType

/** Session + table plumbing for the graft engine.
  *
  * Design notes (100 TB posture): everything here is declarative DataFrame
  * API so Catalyst can push filters/prune columns into the parquet scan; we
  * deliberately set shuffle partitions from the env (32 on the local test
  * rig, thousands on a real cluster) and lean on AQE for runtime coalescing
  * and skew-join handling.
  */
object Graft {

  /** Build the standard session. `local[32]` on the test rig; on a real
    * cluster the master/deploy config comes from spark-submit and these
    * settings remain sane defaults.
    */
  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read it as Long nanos and convert ourselves.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // Let the planner pick shuffled-hash over sort-merge when its size
      // conditions hold (guide §3.1/§9): the self-join family (LSH bands,
      // simhash chunks, PPJoin candidates) joins two same-keyed sides
      // where per-partition hash builds beat sorting both sides. Scale
      // note: this is the guide's recommended batch-ETL baseline, not a
      // local[32] trick — SHJ is only CHOSEN when a side's per-partition
      // build fits memory, and sort-merge remains the fallback.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config(EngineConf)
      .getOrCreate()
  }

  /** Engine settings that every session applies, the test sessions
    * included. Each is static or SparkContext-wide: whichever session
    * starts the JVM's SparkContext fixes it.
    *   - The generated-code cache size. Spark's default of 100 is below
    *     one batch task rotation's working set (~240 classes), so at the
    *     default the LRU cycles and every re-run of a query compiles its
    *     classes with Janino again. Measured: one pass over all 121
    *     `SparkEntry.queries` compiles 1,373 distinct classes at sf0.01
    *     and 1,374 at sf0.1; 4096 is about three times that.
    *   - `GraftExtensions`: the native SQL functions, and the rule that
    *     sorts a small global sort's input in one task
    *     (`SmallSortSinglePartition`).
    *   - `file:` through filesystems that set modes and read link status
    *     without forking `chmod`/`readlink`: `LocalCheckpointFs` for
    *     `FileContext` (checkpoint offsets, commits, state-store deltas)
    *     and `ForkFreeChecksumFileSystem` for the FileSystem API (parquet
    *     writes). Other schemes keep their filesystems. Measured on a
    *     4-core box: one 16 s `stream_ingest` run started 2,845 processes
    *     with Hadoop's `LocalFs`, and 4 with `LocalCheckpointFs`. */
  val EngineConf: Map[String, String] = Map(
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> "4096",
    StaticSQLConf.SPARK_SESSION_EXTENSIONS.key -> classOf[GraftExtensions].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[streaming.LocalCheckpointFs].getName,
    "spark.hadoop.fs.file.impl" -> classOf[streaming.ForkFreeChecksumFileSystem].getName)

  /** All driver-provided tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") events(spark, sfDir)
    else parquet(spark, s"$sfDir/$name.parquet")
  }

  // session → path → (modification time, inferred schema); sessions are
  // held weakly so a stopped and dropped session takes its entries along
  private val schemas =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, (Long, StructType)]]()

  /** `spark.read.parquet(path)` that infers the schema once per session and
    * path: a batch task re-reads the same table every period, and Spark's
    * parquet inference is a job of its own. A later read passes the
    * remembered schema, so only the file listing repeats. A path whose
    * modification time changed since (the table rewritten) is inferred
    * again. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    // no stamp (a missing path, a glob): a plain read, which reports the error
    val stamp = Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime).toOption
    val bySession = schemas.synchronized(schemas.computeIfAbsent(spark, _ => mutable.Map.empty))
    bySession.synchronized(bySession.get(path)) match {
      case Some((t, schema)) if stamp.contains(t) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        stamp.foreach(t => bySession.synchronized(bySession(path) = (t, df.schema)))
        df
    }
  }

  /** The events stream table, surfaced with a stable schema regardless of
    * how the generator stored `ts`:
    *   - `time: timestamp` (µs precision, UTC session) for window/time ops;
    *   - `ts_ns: long` (epoch nanoseconds) for exact integer arithmetic.
    * Two physical layouts exist across driver testdata generations: INT64
    * TIMESTAMP(NANOS) (read as Long via the legacy nanosAsLong conf) and
    * plain TIMESTAMP(MICROS) (read as timestamp / timestamp_ntz). Both
    * normalize to the same logical columns, and the DuckDB oracle's
    * `epoch_us(ts)` agrees with `ts_ns DIV 1000` under either layout.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$sfDir/events.parquet")
    // Same projection under either layout: every raw column with `ts`
    // replaced by `ts_ns` in place, then `time` appended.
    def shaped(tsNs: org.apache.spark.sql.Column): DataFrame =
      raw
        .select(raw.columns.map {
          case "ts" => tsNs.as("ts_ns")
          case c    => col(c)
        }.toIndexedSeq: _*)
        // integral DIV: double division would lose precision at epoch-ns
        .withColumn("time", timestamp_micros(expr("ts_ns DIV 1000")))
    raw.schema("ts").dataType match {
      case LongType =>
        // INT64 TIMESTAMP(NANOS) read as Long via the legacy nanosAsLong conf
        shaped(col("ts"))
      case TimestampType | TimestampNTZType =>
        // µs timestamp (NTZ reads as UTC wall-clock under the UTC session)
        shaped(unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.parquet has unsupported ts type $other; expected INT64 " +
            "TIMESTAMP(NANOS) (surfaced as long) or TIMESTAMP(MICROS)")
    }
  }
}
