package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** InfluxQL FILL() semantics for windowed queries (reference: the batch
  * query node's Fill option, pipeline/batch.go:130-208 / query.go — the
  * reference delegates the fill to InfluxDB's query engine; here it's a
  * first-class gap-filling operator over the bucket axis).
  *
  * The bucket axis is generated from the observed global range (same shape
  * as Deadman.stats: the axis and the group universe are tiny aggregates;
  * the raw stream is scanned once). Fill modes:
  *   - none: emit only observed buckets (inner semantics)
  *   - value(v): constant for missing buckets
  *   - previous: carry the last observed value forward
  *   - linear: interpolate between the neighboring observed values;
  *     edges with no neighbor on one side stay null (InfluxQL behavior)
  */
object Fill {

  /** Per-(group, interval) bucket minimum with a complete axis; missing
    * buckets carry nulls. min (not avg) keeps the metric order-insensitive
    * and bit-exact under distributed partial aggregation, so downstream
    * interpolation is reproducible to the last ULP on any engine. */
  def bucketedMin(
      df: DataFrame,
      timeUsCol: String,
      groupCol: String,
      valueCol: String,
      intervalSeconds: Long): DataFrame = {
    val bucket = (floor(col(timeUsCol) / 1000000.0 / intervalSeconds) * intervalSeconds).cast("long")
    val agg = df.withColumn("bucket_s", bucket)
      .groupBy(col(groupCol), col("bucket_s"))
      .agg(min(valueCol).as("v"))
    val range = df.agg(min(bucket).as("b0"), max(bucket).as("b1"))
      .select(explode(sequence(col("b0"), col("b1"), lit(intervalSeconds))).as("bucket_s"))
    df.select(col(groupCol)).distinct()
      .crossJoin(range)
      .join(agg, Seq(groupCol, "bucket_s"), "left")
  }

  def fillPrevious(df: DataFrame, groupCol: String, bucketCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  def fillLinear(df: DataFrame, groupCol: String, bucketCol: String, valueCol: String): DataFrame = {
    val back = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy(col(groupCol)).orderBy(col(bucketCol))
      .rowsBetween(0, Window.unboundedFollowing)
    val vKeyed = when(col(valueCol).isNotNull, col(bucketCol))
    val vp = last(col(valueCol), ignoreNulls = true).over(back)
    val bp = last(vKeyed, ignoreNulls = true).over(back)
    val vn = first(col(valueCol), ignoreNulls = true).over(fwd)
    val bn = first(vKeyed, ignoreNulls = true).over(fwd)
    df.withColumn(valueCol,
      when(col(valueCol).isNotNull, col(valueCol))
        .otherwise(vp + (vn - vp) * (col(bucketCol) - bp) / (bn - bp)))
  }
}
