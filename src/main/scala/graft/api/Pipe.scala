package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The graft node algebra: every Kapacitor pipeline node re-expressed as a
  * declarative transform over a [[DataFrame]] so Catalyst keeps the whole
  * chain optimizable (pushdown, pruning, whole-stage codegen).
  *
  * A `Pipe` is the moral equivalent of a Kapacitor edge
  * (reference: edge/messages.go:36-44): it carries the frame plus the
  * bookkeeping the reference threads through its DAG — the event-time
  * column, the current group dimensions (models/point.go:14-17) and the
  * measurement name. Nodes are methods returning a new `Pipe`; nothing is
  * executed until an action runs, so Kapacitor's one-goroutine-per-node
  * pipelining is replaced by whole-stage codegen over the fused plan.
  *
  * Scale posture: all stateful ops partition by `dims` (Spark shuffles once
  * per `groupBy`/window chain); window functions use range/rows frames that
  * the state store or sort-based window exec handles without driver
  * involvement. Nothing here collects to the driver.
  */
final case class Pipe(
    df: DataFrame,
    timeCol: String = "time",
    dims: Seq[String] = Nil,
    measurement: Option[String] = None,
    idCol: Option[String] = None) {

  private def t: Column = col(timeCol)

  /** Partition spec for per-group window functions; a pipe with no dims is
    * one global group (reference edge/grouped.go:11-60). */
  private def byGroup = {
    if (dims.isEmpty) Window.partitionBy(lit(0)) else Window.partitionBy(dims.map(col): _*)
  }
  /** Stable intra-timestamp tiebreak. The reference relies on arrival order
    * of the point stream; deterministic pipelines carry a unique id column
    * (events: event_id) used only as a final tiebreak. */
  private def orderCols: Seq[Column] = t +: idCol.map(col).toSeq
  private def byGroupTime = byGroup.orderBy(orderCols: _*)

  // ---------------------------------------------------------------- basics

  /** from(): filter by measurement + predicate, set dims, optionally
    * truncate time (reference stream.go:41-143). */
  def from(
      where: Column = lit(true),
      groupBy: Seq[String] = dims,
      truncate: Option[String] = None): Pipe = {
    val filtered = df.filter(where)
    val trunced = truncate match {
      case Some(unit) => filtered.withColumn(timeCol, date_trunc(unit, t))
      case None       => filtered
    }
    copy(df = trunced, dims = groupBy)
  }

  /** where(): per-point predicate (reference where.go:22-107). */
  def where(cond: Column): Pipe = copy(df = df.filter(cond))

  /** eval(): sequential scalar expressions, each visible to the next
    * (reference eval.go:91-172). `keep=false` drops all but `as` + keys. */
  def eval(exprs: (String, Column)*): Pipe =
    copy(df = exprs.foldLeft(df) { case (d, (name, e)) => d.withColumn(name, e) })

  /** eval(...).keep(fields…): retain only time, dims and the kept fields.
    * Evaluated names NOT in the keep list are hidden — visible to later
    * lambdas in the same eval, dropped from the output (reference
    * eval.go .keep() semantics, pinned by the Eval_KeepSomeWithHidden
    * golden). List an evaluated name in `keepCols` to keep it. */
  def evalKeep(keepCols: Seq[String], exprs: (String, Column)*): Pipe = {
    val evaluated = eval(exprs: _*).df
    // a typo'd user keep column must fail loudly (the reference errors on
    // unknown fields); only pipeline METADATA may be absent — the row-id
    // tiebreak column (and a time/dim dropped by an upstream agg), which
    // the projection tolerates because it is not a user-named field
    val missing = keepCols.filterNot(evaluated.columns.contains)
    require(missing.isEmpty, s"eval().keep() of unknown column(s): ${missing.mkString(", ")}")
    val out = (Seq(timeCol) ++ dims ++ idCol.toSeq).distinct
      .filter(evaluated.columns.contains) ++ keepCols.filterNot(c =>
      (Seq(timeCol) ++ dims ++ idCol.toSeq).contains(c))
    copy(df = evaluated.select(out.map(col): _*))
  }

  /** default(): fill missing fields with constants (reference default.go). */
  def default(defaults: (String, Any)*): Pipe =
    copy(df = defaults.foldLeft(df) { case (d, (name, v)) =>
      if (d.columns.contains(name)) d.withColumn(name, coalesce(col(name), lit(v)))
      else d.withColumn(name, lit(v))
    })

  /** default().tag(k,v): tag defaults apply when the tag is missing OR
    * empty — Go's map zero value conflates the two (reference
    * default.go:100-106; field defaults test nil only, [[default]]).
    * Pinned by the DefaultEmptyTags golden. */
  def defaultTags(defaults: (String, String)*): Pipe =
    copy(df = defaults.foldLeft(df) { case (d, (name, v)) =>
      if (d.columns.contains(name))
        d.withColumn(name,
          when(col(name).isNull || col(name) === "", lit(v)).otherwise(col(name)))
      else d.withColumn(name, lit(v))
    })

  /** delete(): drop fields/tags; deleting a grouped tag regroups the
    * stream without it (reference delete.go DeleteGroup handling — pinned
    * by the Delete_GroupBy golden). */
  def delete(cols: String*): Pipe =
    copy(df = df.drop(cols: _*), dims = dims.filterNot(cols.contains))

  /** shift(): move point time by a (possibly negative) number of seconds
    * (reference shift.go:19-75). */
  def shift(seconds: Long): Pipe =
    copy(df = df.withColumn(timeCol, t + expr(s"INTERVAL $seconds SECOND")))

  /** groupBy(): re-dimension the stream (reference group_by.go:33-206). */
  def groupBy(newDims: String*): Pipe = copy(dims = newDims)

  /** groupBy(*): group by ALL tags of a dynamic `tags: map<string,string>`
    * column — the reference's star dimension (group_by.go star path,
    * groupID derivation models/point.go:82-118). The map is canonicalized
    * to a sorted `k=v,k=v` string key so equal tag sets always collide,
    * regardless of map entry order; `byMeasurement` prepends the
    * measurement name exactly like the reference's groupID. */
  def groupByStar(
      tagsCol: String = "tags",
      byMeasurement: Boolean = false,
      measurementCol: String = "measurement",
      as: String = "group_id"): Pipe = {
    val entries = array_sort(transform(map_entries(col(tagsCol)),
      e => concat(e.getField("key"), lit("="), e.getField("value"))))
    val key = if (byMeasurement) concat(col(measurementCol), lit("\n"), array_join(entries, ","))
    else array_join(entries, ",")
    copy(df = df.withColumn(as, key), dims = Seq(as))
  }

  /** Per-group 1-based time ordinals via TWO-PHASE ranking: local ranks
    * within (dims, time-chunk) plus broadcast cumulative chunk offsets.
    * `row_number().over(byGroupTime)` sorts each whole group in ONE task —
    * with low-cardinality dims (events: 5 event_types) that is 5 tasks no
    * matter the cluster; at 100 TB it never finishes. Chunking restores
    * parallelism = |groups| × |chunks| while the offsets frame (one row
    * per group-chunk) stays broadcastable. Ordering is identical: chunk is
    * derived from time, so (chunk, time, id) sorts exactly like (time, id).
    * Parity with the single-window form is pinned by PipeSpec. */
  def withOrdinal(as: String, chunkSeconds: Long = 3600): Pipe = {
    val chunk = floor(unix_micros(t) / 1000000.0 / chunkSeconds).cast("long")
    val d = df.withColumn("__chunk", chunk)
    val gcols = if (dims.isEmpty) Seq(lit(0).as("__g")) else dims.map(col)
    val gnames = if (dims.isEmpty) Seq("__g") else dims
    val dd = if (dims.isEmpty) d.withColumn("__g", lit(0)) else d
    val localW = Window.partitionBy((gnames :+ "__chunk").map(col): _*).orderBy(orderCols: _*)
    val offsets = dd.groupBy((gnames :+ "__chunk").map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum("__n").over(
          Window.partitionBy(gnames.map(col): _*).orderBy(col("__chunk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((gnames :+ "__chunk" :+ "__off").map(col): _*)
    val out = dd.withColumn("__rnl", row_number().over(localW))
      .join(broadcast(offsets), gnames :+ "__chunk")
      .withColumn(as, (col("__off") + col("__rnl")).cast("long"))
      .drop("__chunk", "__rnl", "__g")
    copy(df = out)
  }

  /** sample(n): keep every Nth point per group, counting from the FIRST
    * (reference sample.go:97-104: `count%n==0` with count starting at 0, so
    * the 1st, n+1th, 2n+1th… points are kept — pinned by the
    * TestStream_Sample golden fixture). Uses the two-phase ordinal so a
    * low-cardinality grouping never funnels whole groups through single
    * sort tasks. */
  def sampleN(n: Int): Pipe =
    copy(df = withOrdinal("__rn").df
      .filter(col("__rn") % n === 1)
      .drop("__rn"))

  /** sample(duration): keep only points whose time lies exactly on a
    * duration boundary — `t.Truncate(d) == t` (reference sample.go:100-103,
    * pinned by the TestStream_Sample_Time golden fixture). A pure filter:
    * no window function, no shuffle, fully pushdown-able. */
  def sampleEvery(bucketSeconds: Long): Pipe =
    copy(df = df.filter(unix_micros(t) % (bucketSeconds * 1000000L) === 0))

  /** union(): merge streams by name (reference union.go:28-166). */
  def union(others: Pipe*): Pipe =
    copy(df = others.foldLeft(df)((a, b) => a.unionByName(b.df, allowMissingColumns = true)))

  /** union(...).rename(m): merged stream under a new measurement name
    * (reference union.go rename). */
  def unionRename(newName: String, others: Pipe*): Pipe =
    union(others: _*).copy(measurement = Some(newName))

  /** trickle(): batch → stream representation change (reference
    * trickle.go:9-66). Rows are already flat here, so this only clears the
    * batch bookkeeping — kept for API parity. */
  def trickle(): Pipe = this

  /** noop() (reference noop.go). */
  def noop(): Pipe = this

  /** eval(...).quiet(): per-row evaluation errors degrade to null instead
    * of failing the pipeline (reference eval.go .quiet()). Spark's
    * equivalent is the `try_*` expression family (try_divide, try_add,
    * try_cast, …) — build the expressions from those and this is exactly
    * the reference's behavior, row-local and codegen'd. This method is
    * eval() plus the contract that callers pass try-variant expressions. */
  def evalQuiet(exprs: (String, Column)*): Pipe = eval(exprs: _*)

  // ------------------------------------------------- stream transformations
  // (reference influxql.go:213-273 — emit one output per input point)

  /** difference(): value delta between consecutive points per group
    * (reference pipeline/influxql.go:519). First point emits nothing. */
  def difference(field: String, as: String = "difference"): Pipe = {
    val d = df
      .withColumn(as, col(field) - lag(field, 1).over(byGroupTime))
      .filter(col(as).isNotNull)
    copy(df = d)
  }

  /** elapsed(): seconds (unit) between consecutive points
    * (reference pipeline/influxql.go:493). */
  def elapsed(unitSeconds: Double = 1.0, as: String = "elapsed"): Pipe = {
    val us = unix_micros(t)
    val d = df
      .withColumn(as, (us - lag(us, 1).over(byGroupTime)) / lit(unitSeconds * 1e6))
      .filter(col(as).isNotNull)
    copy(df = d)
  }

  /** derivative(): (Δf)/(Δt/unit) per group (reference derivative.go:127-159).
    * `nonNegative` drops negative rates. A zero-elapsed pair emits nothing
    * but the point still becomes the next previous (derivative.go:147-150;
    * lag() naturally keeps it as the predecessor) — pinned by the
    * TestStream_DerivativeZeroElapsed golden. */
  def derivative(
      field: String,
      unitSeconds: Double = 1.0,
      nonNegative: Boolean = false,
      as: String = "derivative"): Pipe = {
    val us = unix_micros(t)
    val dv = col(field) - lag(field, 1).over(byGroupTime)
    val dtUnits = (us - lag(us, 1).over(byGroupTime)).cast("double") / lit(unitSeconds * 1e6)
    val rate = when(dtUnits =!= 0, dv / dtUnits)
    val d0 = df.withColumn(as, rate).filter(col(as).isNotNull)
    val d = if (nonNegative) d0.filter(col(as) >= 0) else d0
    copy(df = d)
  }

  /** movingAverage(w): mean of last w points, emitted once w points seen
    * (reference pipeline/influxql.go:537). */
  def movingAverage(field: String, w: Int, as: String = "movingAverage"): Pipe = {
    val frame = byGroupTime.rowsBetween(-(w - 1), 0)
    val d = df
      .withColumn(as, avg(field).over(frame))
      .withColumn("__rn", row_number().over(byGroupTime))
      .filter(col("__rn") >= w)
      .drop("__rn")
    copy(df = d)
  }

  /** cumulativeSum() (reference pipeline/influxql.go:585). */
  def cumulativeSum(field: String, as: String = "cumulativeSum"): Pipe =
    copy(df = df.withColumn(
      as, sum(field).over(byGroupTime.rowsBetween(Window.unboundedPreceding, 0))))

  /** changeDetect(fields…): emit only when any tracked field differs from
    * the previously *emitted* values (reference change_detect.go:40-124).
    * A non-emitted point's tracked tuple equals the last emitted tuple by
    * construction, so comparing the tuple with lag over the raw stream is
    * equivalent — multi-field tracking is a struct compare (pinned by the
    * ChangeDetect_Many golden). */
  def changeDetect(fields: String*): Pipe = {
    // Null-safe IS DISTINCT FROM semantics (!(a <=> b)) so a run of
    // consecutive NULLs emits once, matching the reference's compare against
    // the previously-*emitted* value; the first point of a group always
    // emits (the reference has no prior value there).
    val tracked = if (fields.size == 1) col(fields.head) else struct(fields.map(col): _*)
    val prev = lag(tracked, 1).over(byGroupTime)
    copy(df = df
      .withColumn("__chg", row_number().over(byGroupTime) === 1 || !(tracked <=> prev))
      .filter(col("__chg")).drop("__chg"))
  }

  /** stateDuration(): seconds since `pred` first became true in the current
    * true-run; -1 when false (reference state_tracking.go:88-169). */
  def stateDuration(pred: Column, as: String = "state_duration", unitSeconds: Double = 1.0): Pipe = {
    // Run id: count of pred-flips seen so far → groups consecutive equal
    // pred values into sessions, all with window functions (no state store
    // needed in batch; streaming uses TransformWithState — see
    // graft.streaming.StateTrackingStream).
    val flip = when(
      lag(pred.cast("int"), 1).over(byGroupTime).isNull ||
        lag(pred.cast("int"), 1).over(byGroupTime) =!= pred.cast("int"), 1).otherwise(0)
    val d = df
      .withColumn("__p", pred)
      .withColumn("__run", sum(flip).over(byGroupTime.rowsBetween(Window.unboundedPreceding, 0)))
    val runW = (if (dims.isEmpty) Window.partitionBy(col("__run"))
                else Window.partitionBy((dims.map(col) :+ col("__run")): _*))
      .orderBy(orderCols: _*)
    val dur = (unix_micros(t) - unix_micros(min(t).over(runW.rowsBetween(Window.unboundedPreceding, 0)))) /
      lit(unitSeconds * 1e6)
    copy(df = d
      .withColumn(as, when(col("__p"), dur).otherwise(lit(-1.0)))
      .drop("__p", "__run"))
  }

  /** stateCount(): consecutive points with pred true; -1 when false
    * (reference state_tracking.go:56-86). */
  def stateCount(pred: Column, as: String = "state_count"): Pipe = {
    val flip = when(
      lag(pred.cast("int"), 1).over(byGroupTime).isNull ||
        lag(pred.cast("int"), 1).over(byGroupTime) =!= pred.cast("int"), 1).otherwise(0)
    val d = df
      .withColumn("__p", pred)
      .withColumn("__run", sum(flip).over(byGroupTime.rowsBetween(Window.unboundedPreceding, 0)))
    val runW = (if (dims.isEmpty) Window.partitionBy(col("__run"))
                else Window.partitionBy((dims.map(col) :+ col("__run")): _*))
      .orderBy(orderCols: _*)
    copy(df = d
      .withColumn(as, when(col("__p"), row_number().over(runW).cast("long")).otherwise(lit(-1L)))
      .drop("__p", "__run"))
  }

  // ---------------------------------------------------------------- windows

  /** Tumbling time window: adds a `bucket_s` epoch-seconds column; the
    * downstream aggregate groups on (dims, bucket_s). This is the batch
    * rendering of window().period(p).every(p) (reference window.go:80-224).
    * Kept as epoch arithmetic (not the window() generator) so the oracle SQL
    * is the byte-identical computation.
    */
  def windowTumbling(everySeconds: Long, as: String = "bucket_s"): Pipe =
    copy(df = df.withColumn(
      as, (floor(unix_micros(t) / lit(1000000L) / everySeconds) * everySeconds).cast("long")))

  /** Sliding time window period p / emit every e: one output row per
    * covering window (reference window.go:80-224). Adds `wstart_s`/`wend_s`.
    *
    * Direct epoch arithmetic, not Spark's window() generator: the covering
    * starts are the k·every grid with k in [floor((t−p)/e)+1, floor(t/e)]
    * (floor via pmod, so negative epochs hold). Equivalent output
    * (verified exactly, incl. p not a multiple of e), but the generator's
    * Expand drags ~20 timestamp conversions per window copy — measured
    * sf0.1 min-of-8 0.212 s vs 0.179 s here, and the big generated
    * expressions JIT slowly, so short benches sit far above steady state.
    * The µs-scale arithmetic is exact in double: |tus| < 2^53 and the
    * pmod-floored numerator divides evenly. */
  def windowSliding(periodSeconds: Long, everySeconds: Long): Pipe = {
    val pUs = periodSeconds * 1000000L
    val eUs = everySeconds * 1000000L
    val tus = unix_micros(t)
    val loK = (((tus - pUs) - pmod(tus - pUs, lit(eUs))) / eUs + 1).cast("long")
    val hiK = ((tus - pmod(tus, lit(eUs))) / eUs).cast("long")
    copy(df = df
      .withColumn("__wk", explode(sequence(loK, hiK)))
      .withColumn("wstart_s", col("__wk") * everySeconds)
      .withColumn("wend_s", col("__wk") * everySeconds + periodSeconds)
      .drop("__wk"))
  }

  /** window().period(p).every(0): emit on EVERY point the aggregate of the
    * trailing period (oldest, now] — the reference's right-aligned
    * per-point window (window.go:150-224, every=0 path). A range frame
    * over epoch-µs with an inclusive lower bound at now−p+1µs gives the
    * exclusive-older-end semantics; peers at the same timestamp are
    * included, matching the reference's buffer contents. */
  def windowPerPoint(periodSeconds: Long, field: String): Pipe = {
    val frame = byGroup.orderBy(unix_micros(t))
      .rangeBetween(-(periodSeconds * 1000000L - 1), 0)
    copy(df = df
      .withColumn("w_cnt", count(lit(1)).over(frame))
      .withColumn("w_mean", avg(col(field)).over(frame)))
  }

  /** window().period(p).every(e).align() [.fillPeriod()] — the reference's
    * aligned emission semantics (window.go:150-224 with AlignFlag,
    * init window.go:108-126), derived in closed form so the whole operator
    * stays declarative (no per-group FSM):
    *
    * With align, `nextEmit` after a trigger point q is always the first
    * multiple of `every` strictly after q, so by induction a boundary
    * B = k·every is emitted iff
    *   - some point lies in [B-every, B)  (it arms B — it is either itself
    *     a trigger whose nextEmit becomes B, or the group's first point), or
    *     B is the fillPeriod-initialized first boundary
    *       (first multiple of `every` strictly after t0+period), and
    *   - some point has time ≥ B (the trigger), and
    *   - B is not before the first boundary.
    * The batch at B contains the points in [B-period, B) (left-aligned
    * purge, window.go:197-204). Exactness vs the sequential FSM is pinned
    * by PropertySpec (windowAligned ≡ WindowFSM(align=true)) and the
    * golden WindowMissingAligned fixture.
    *
    * Output: one row per contained point per emitted window, stamped
    * `wemit_s`. Scale: one explode of ≤ ⌈p/e⌉ boundaries per point, a
    * per-group aggregate for (min,max), a distinct over (group, slot) for
    * arming, and an equi-join of the data against the small emitted-boundary
    * set on (dims, k) — AQE broadcasts it when small. No sequential state.
    */
  def windowAligned(
      periodSeconds: Long,
      everySeconds: Long,
      fillPeriod: Boolean = false,
      as: String = "wemit_s"): Pipe = {
    val everyUs = everySeconds * 1000000L
    val periodUs = periodSeconds * 1000000L
    val gcols = if (dims.isEmpty) Seq(lit(0).as("__g")) else dims.map(col)
    val gnames = if (dims.isEmpty) Seq("__g") else dims
    val d = df.withColumn("__us", unix_micros(t)).withColumns(
      if (dims.isEmpty) Map("__g" -> lit(0)) else Map.empty[String, Column])
    val stats = d.groupBy(gnames.map(col): _*)
      .agg(min("__us").as("__mn"), max("__us").as("__mx"))
    val firstK =
      if (fillPeriod) (floor((col("__mn") + periodUs) / everyUs) + 1).cast("long")
      else (floor(col("__mn") / everyUs) + 1).cast("long")
    val armed = d.select(gcols :+ (floor(col("__us") / everyUs) + 1).cast("long").as("__k"): _*)
      .distinct()
      .union(stats.select(gnames.map(col) :+ firstK.as("__k"): _*))
      .distinct()
    val emitted = armed.join(stats, gnames)
      .filter(col("__k") >= firstK && col("__k") * everyUs <= col("__mx"))
      .select(gnames.map(col) :+ col("__k"): _*)
    // membership: point ∈ [B-period, B) ⟺ floor(us/every)+1 ≤ k ≤ floor((us+period)/every)
    val kLo = (floor(col("__us") / everyUs) + 1).cast("long")
    val kHi = floor((col("__us") + periodUs) / everyUs).cast("long")
    val ks = when(kHi >= kLo, sequence(kLo, kHi)).otherwise(array().cast("array<long>"))
    val exploded = d.withColumn("__k", explode(ks))
    val out = exploded.join(emitted, gnames :+ "__k")
      .withColumn(as, (col("__k") * everySeconds).cast("long"))
      .drop("__k", "__us", "__g")
    copy(df = out)
  }

  /** Count window periodCount n / everyCount m (reference window.go:360-470):
    * every m-th point per group, aggregate over the last n points. Returns
    * the frame with `__rn` attached for the caller's agg-over-frame. */
  def windowCount(n: Int): (DataFrame, org.apache.spark.sql.expressions.WindowSpec) =
    (df.withColumn("__rn", row_number().over(byGroupTime)),
      byGroupTime.rowsBetween(-(n - 1), 0))

  /** eval(...).tags(names…): promote result columns to group dimensions
    * (reference pipeline/eval.go .tags()). */
  def evalTags(names: String*): Pipe = copy(dims = (dims ++ names).distinct)

  // -------------------------------------------------------- flatten/combine

  /** flatten().on(dim).fields(f…) (reference flatten.go:22-254): within
    * a tolerance-rounded timestamp and the remaining dims, merge points
    * across `dim` values into one row whose columns are
    * `<dimValue><delimiter><field>` for EVERY listed field (the reference
    * prefixes all fields of the point); with `dropOriginalFieldName` the
    * column is just `<dimValue>` (single-field use). The earliest point
    * per cell wins, on a zero-padded (time,id) string key that cannot
    * overflow. One pivot pass: `dimValues` pins the pivot universe
    * (Spark's auto-pivot would need a distinct-collect first — at 100 TB
    * you declare the universe, you don't discover it). */
  def flattenOnFields(
      dim: String,
      dimValues: Seq[String],
      fields: Seq[String],
      toleranceSeconds: Long,
      delimiter: String = ".",
      dropOriginalFieldName: Boolean = false): Pipe = {
    val bucket = (floor(unix_micros(t) / 1000000.0 / toleranceSeconds) * toleranceSeconds)
      .cast("long").as("bucket_s")
    val ord = format_string("%020d%010d", unix_micros(t),
      idCol.map(col).getOrElse(lit(0L)))
    val keys = dims.filterNot(_ == dim).map(col) :+ col("bucket_s")
    val aggs = fields.map(f => min_by(col(f), col("__ord")).as(f))
    val pivoted = df
      .withColumn("bucket_s", bucket)
      .withColumn("__ord", ord)
      .groupBy(keys: _*)
      .pivot(dim, dimValues)
      .agg(aggs.head, aggs.tail: _*)
    // Spark names pivot outputs `<value>_<aggAlias>` (single agg: `<value>`);
    // backquote the reference — dim values may contain dots, which col()
    // would otherwise parse as struct access
    val outCols = for (v <- dimValues; f <- fields) yield {
      val src = if (fields.size == 1) v else s"${v}_$f"
      val dst = if (dropOriginalFieldName) v else s"$v$delimiter$f"
      col(s"`$src`").as(dst)
    }
    val out = pivoted.select(keys ++ outCols: _*)
    copy(df = out, dims = dims.filterNot(_ == dim), timeCol = "bucket_s")
  }

  /** combine(lambda…k).as(names…k).max(n) (reference combine.go:142-231):
    * within a tolerance-rounded timestamp per group, emit every k-subset of
    * points where the i-th point (in id order) matches the i-th predicate;
    * columns are prefixed with the i-th name. Expressed as k-1 chained
    * equi-joins on (group, bucket) — each join shuffles on the bucket key,
    * AQE splits skewed buckets; no per-node buffering of a whole group.
    *
    * `maxCombinations` mirrors the reference's cap (combine.go:232-259,
    * which errors the task when C(n, k) > max): buckets whose point count
    * yields more than `max` k-subsets raise a runtime error through
    * `raise_error`, so the cap costs one count aggregate, not a collect.
    *
    * Deviation (documented): the reference assigns lambdas to subset
    * members greedily in buffer order; we pin the i-th predicate to the
    * i-th member in id order, the id tiebreak that also keeps each
    * subset from being emitted twice. For identical predicates (the
    * common "pairs/triples of X" use) the two agree. */
  def combineK(
      preds: Seq[Column],
      toleranceSeconds: Long,
      names: Seq[String],
      maxCombinations: Long = 10000): DataFrame = {
    require(preds.size == names.size && preds.size >= 2, "combine needs k>=2 predicates+names")
    require(idCol.isDefined, "combineK needs an id column for ordering")
    val id = idCol.get
    val k = preds.size
    val bucket = (floor(unix_micros(t) / 1000000.0 / toleranceSeconds) * toleranceSeconds)
      .cast("long").as("bucket_s")
    val base = df.withColumn("bucket_s", bucket)
    val keys = dims :+ "bucket_s"
    // the reference caps on C(bufferSize, k) over ALL points of the bucket;
    // the cap is a filter (not a dropped column) so pruning can't elide the
    // raise_error
    val counts = base.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
    val nCk = (0 until k).map(i => col("__n") - i).reduce(_ * _) /
      lit((1L to k.toLong).product)
    def side(pred: Column, nm: String) = {
      val dataCols = base.columns.filterNot(c => keys.contains(c))
      base.filter(pred).select(
        keys.map(col) ++ dataCols.map(c => col(c).as(s"${nm}_$c")): _*)
    }
    val joined = names.zip(preds).map { case (nm, p) => side(p, nm) }
      .reduceLeft((a, b) => a.join(b, keys))
    val ordered = names.sliding(2).map { case Seq(x, y) =>
      col(s"${x}_$id") < col(s"${y}_$id") }.reduce(_ && _)
    // guard sits on the counts side of the join so every bucket is checked,
    // matches or not (the reference errors on buffer size alone)
    val guarded = counts.filter(when(nCk > maxCombinations,
      raise_error(concat(lit(s"combine: combinations exceed max $maxCombinations in bucket "),
        col("bucket_s"))).cast("boolean")).otherwise(lit(true)))
    joined.filter(ordered)
      .join(guarded, keys)
      .drop("__n")
  }

  // ------------------------------------------------------------------ joins

  /** Time-aligned join (reference join.go:16-762): points from both sides
    * match when time rounded to `toleranceSeconds` is equal
    * (Go time.Round → floor(t/tol + 0.5)*tol), per group. `fillOuter`
    * false→inner (fill none), true→full outer (fill null). Field columns
    * are prefixed `<name>_` (the reference's prefix-with-delimiter,
    * pipeline/join.go:28-270). Where the reference pairs at most one point
    * per source per rounded timestamp, we keep relational semantics: all
    * combinations within the bucket join (documented deviation).
    *
    * Scale: an equi-join on (bucket, on-dims) — shuffles both sides once on
    * the join key; AQE handles skewed buckets. */
  def joinTolerance(
      other: Pipe,
      toleranceSeconds: Long,
      names: (String, String),
      on: Seq[String],
      fillOuter: Boolean = false): DataFrame = {
    def keyed(p: Pipe, nm: String) = {
      val bucket = (floor((unix_micros(col(p.timeCol)) / lit(1000000.0)) / toleranceSeconds + lit(0.5)) * toleranceSeconds).cast("long")
      val dataCols = p.df.columns.filterNot(c => on.contains(c) || c == p.timeCol)
      p.df.select(
        (bucket.as("__jt") +: on.map(col)) ++ dataCols.map(c => col(c).as(s"${nm}_$c")): _*)
    }
    val l = keyed(this, names._1)
    val r = keyed(other, names._2)
    val how = if (fillOuter) "full_outer" else "inner"
    l.join(r, Seq("__jt") ++ on, how).withColumnRenamed("__jt", "jt_s")
  }

  /** [[joinTolerance]] with the reference's arrival-order pairing: within
    * a rounded bucket the i-th point (time order) of each side pairs with
    * the i-th of the other — join.go builds joinsets sequentially per
    * rounded timestamp, so two same-bucket points yield two paired rows,
    * not a cross product (pinned by the JoinTolerance golden's two t=6
    * rows). Unmatched ranks drop (inner) or null-fill (outer).
    *
    * Scale: the rank is a window function over (on-dims, bucket) — bounded
    * partitions — and the join stays an equi-join on (bucket, rank, on). */
  def joinToleranceOrdered(
      other: Pipe,
      toleranceSeconds: Long,
      names: (String, String),
      on: Seq[String],
      fillOuter: Boolean = false): DataFrame = {
    def keyed(p: Pipe, nm: String) = {
      val bucket = (floor((unix_micros(col(p.timeCol)) / lit(1000000.0)) / toleranceSeconds + lit(0.5)) * toleranceSeconds).cast("long")
      val dataCols = p.df.columns.filterNot(c => on.contains(c) || c == p.timeCol)
      // idCol tiebreak keeps the rank deterministic for same-time points
      val ord = col(p.timeCol) +: p.idCol.map(col).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((Seq("__jt") ++ on).map(col): _*).orderBy(ord: _*)
      p.df.withColumn("__jt", bucket)
        .withColumn("__rk", row_number().over(w))
        .select((Seq("__jt", "__rk") ++ on).map(col) ++
          dataCols.map(c => col(c).as(s"${nm}_$c")): _*)
    }
    val how = if (fillOuter) "full_outer" else "inner"
    keyed(this, names._1)
      .join(keyed(other, names._2), Seq("__jt", "__rk") ++ on, how)
      .withColumnRenamed("__jt", "jt_s").drop("__rk")
  }

  /** join(o1, o2, …).as(n0, n1, …).tolerance(t).on(dims).fill(…) — the full
    * reference join surface (pipeline/join.go:16-150, join.go:16-762),
    * n-way. Each side's *field* columns are prefixed `<name>_`; its group
    * dims pass through unprefixed — `on` dims are join keys, extra dims of
    * a finer-grouped side ride along (the reference's `.on()` contract:
    * sides must agree on the `on` dims and at most one side may carry a
    * given extra dim; reference join.go JoinOn). Time matches exactly, or
    * rounded to `toleranceSeconds` (Go time.Round = half away from zero)
    * when nonzero; the rounded time is `jt_us` (epoch µs).
    *
    * Fill (pipeline/join.go:120-150): none → inner; null → full outer;
    * value v → full outer with every missing *field* coalesced to v (tags
    * of absent sides stay null — the reference has no point to take tags
    * from either).
    *
    * Scale: a reduce of equi-joins on (jt_us, on) — each join shuffles on
    * the same key so Catalyst reuses the partitioning across the chain; AQE
    * broadcasts/splits skewed sides. All-combinations-within-bucket
    * deviation as [[joinTolerance]] (documented there). */
  def joinMulti(
      thisName: String,
      others: Seq[(Pipe, String)],
      toleranceSeconds: Long = 0L,
      on: Seq[String] = Nil,
      fill: Pipe.JoinFill = Pipe.FillNone,
      delimiter: String = "_"): DataFrame = {
    val sides = (this, thisName) +: others
    // tolerance 0 keys on the raw time VALUE (not a derived epoch): when a
    // side was just aggregated on its time column, the join key is then the
    // aggregation key and Catalyst reuses the partitioning instead of
    // re-shuffling every side (7 → 4 exchanges on the 3-way fill join)
    def keyed(p: Pipe, nm: String) = {
      val jt =
        if (toleranceSeconds == 0) col(p.timeCol)
        else (floor(unix_micros(col(p.timeCol)) / lit(1000000.0) / toleranceSeconds + lit(0.5)) *
          toleranceSeconds * 1000000L).cast("long")
      val extraDims = p.dims.filterNot(on.contains)
      val dataCols = p.df.columns
        .filterNot(c => on.contains(c) || extraDims.contains(c) || c == p.timeCol)
      // .delimiter(d) (pipeline/join.go StreamNameFlag/Delimiter; default
      // "."): the rendered field prefix separator — '' concatenates
      p.df.select(
        (jt.as("__jtk") +: (on ++ extraDims).map(col)) ++
          dataCols.map(c => col(c).as(s"$nm$delimiter$c")): _*)
    }
    val how = fill match { case Pipe.FillNone => "inner"; case _ => "full_outer" }
    val joined0 = sides.map { case (p, nm) => keyed(p, nm) }
      .reduceLeft((a, b) => a.join(b, Seq("__jtk") ++ on, how))
    val jtOut = if (toleranceSeconds == 0) unix_micros(col("__jtk")) else col("__jtk")
    val joined = joined0.withColumn("jt_us", jtOut).drop("__jtk")
      .select(col("jt_us") +: joined0.columns.filter(_ != "__jtk").map(col): _*)
    fill match {
      case Pipe.FillValue(v) =>
        val tagCols = Set("jt_us") ++ on ++ sides.flatMap(_._1.dims)
        joined.select(joined.columns.map(c =>
          if (tagCols.contains(c)) col(c) else coalesce(col(c), lit(v)).as(c)): _*)
      case _ => joined
    }
  }

  // ------------------------------------------------------------- rendering

  /** Deterministic output: order by the given columns (all remaining columns
    * appended as tiebreak) — golden-test friendly. */
  def sorted(by: String*): DataFrame = {
    val cols = if (by.nonEmpty) by else df.columns.toSeq
    df.orderBy(cols.map(col): _*)
  }
}

object Pipe {
  /** Entry point mirroring `stream|from()` on the canonical events table. */
  def events(df: DataFrame, dims: String*): Pipe =
    Pipe(df, timeCol = "time", dims = dims, measurement = Some("events"))

  /** join fill modes (reference pipeline/join.go:120-150). */
  sealed trait JoinFill
  case object FillNone extends JoinFill
  case object FillNull extends JoinFill
  final case class FillValue(v: Any) extends JoinFill
}
