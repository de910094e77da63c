package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Holt-Winters forecast aggregate (reference pipeline/influxql.go:555-581,
  * which delegates to InfluxDB 1.x `query.NewFloatHoltWintersReducer`).
  *
  * Semantics match the public InfluxDB algorithm (damped multiplicative
  * Holt-Winters, documented at docs.influxdata.com "holt_winters"), which
  * has three idiosyncrasies a textbook implementation would miss:
  *
  *  - observation times are rounded onto the interval grid and interior
  *    gaps become NaN slots that the SSE objective skips;
  *  - the fitted curve is a *pure simulation* from the initial state —
  *    level, trend, and per-slot seasonals are free parameters optimized
  *    alongside alpha/beta/gamma/phi, and later observations never correct
  *    the recursion (each fitted point feeds the next step as if observed);
  *  - parameters are fit by Nelder-Mead (the classic M. F. Hutt simplex
  *    formulation) seeded from a 4^4 grid over
  *    (alpha, beta, gamma, phi) ∈ {0.3, 0.475, 0.65, 0.825}, minimizing
  *    in-sample SSE with negative fits scored +Inf.
  *
  * Verified bit-for-bit against the reference goldens
  * (integrations/streamer_test.go:483-601 TestStream_HoltWinters /
  * TestStream_HoltWintersWithFit) in GoldenReplaySpec.
  *
  * Implemented as a typed [[Aggregator]] (registered via `udaf`) so it runs
  * distributed: partial buffers merge associatively; only the per-group
  * series (already small after the mandatory window aggregation upstream)
  * is materialized per group, never on the driver.
  */
object HoltWinters {

  case class TV(t: Long, v: Double)
  case class Buf(var items: List[TV])

  private val GuessLower = 0.3
  private val GuessUpper = 1.0
  private val GuessN     = 4
  private val Weight     = 0.5   // seed weight for the initial level/trend
  private val Epsilon    = 1.0e-4

  /** Fit + forecast over (time, value) points on a fixed interval grid.
    * Returns (time, value) pairs: fitted curve ++ forecasts when `withFit`,
    * else only the h forecasts. Fit times start at the first *actual* point
    * time; forecast times continue past the last actual point time. */
  /** Interval-gridded series plus the actual first/last point times. */
  private[graft] case class Prepared(y: Array[Double], t0: Long, tN: Long)

  /** Sort, round onto the interval grid, fill interior gaps with NaN.
    * None when the series is too short to fit. Duplicate grid slots keep
    * the first point (later ones are dropped). */
  private[graft] def prepare(points: Array[TV], m: Int, intervalS: Long): Option[Prepared] = {
    val seasonal = m >= 2
    val sorted = points.sortBy(_.t)
    val l = sorted.length
    if (l < 2 || (seasonal && l < m)) return None
    val half = intervalS / 2
    def roundT(t: Long): Long = {
      val rem = t % intervalS
      if (rem > half) (t / intervalS + 1) * intervalS
      else (t / intervalS) * intervalS
    }
    val start = roundT(sorted(0).t)
    val stop = roundT(sorted(l - 1).t)
    if ((stop - start) / intervalS <= 0) return None
    val yb = scala.collection.mutable.ArrayBuffer[Double](sorted(0).v)
    var t = start
    var pi = 1
    while (pi < l) {
      val rounded = roundT(sorted(pi).t)
      if (rounded > t) {
        t += intervalS
        while (rounded != t) { yb += Double.NaN; t += intervalS }
        yb += sorted(pi).v
      }
      pi += 1
    }
    Some(Prepared(yb.toArray, sorted(0).t, sorted(l - 1).t))
  }

  private[graft] sealed trait PrepareResult
  private[graft] object PrepareResult {
    case object TooShort extends PrepareResult
    /** The gridded series would exceed the caller's cap — reported WITHOUT
      * allocating it (a sparse series over a long span grids to far more
      * slots than its point count). */
    final case class OverCap(gridded: Long) extends PrepareResult
    final case class Ok(p: Prepared) extends PrepareResult
  }

  /** [[prepare]] with an allocation guard: computes the gridded length from
    * the raw time span FIRST and refuses to materialize a series longer than
    * `maxLen`. */
  private[graft] def prepareBounded(points: Array[TV], m: Int, intervalS: Long,
      maxLen: Long): PrepareResult = {
    val seasonal = m >= 2
    val l = points.length
    if (l < 2 || (seasonal && l < m)) return PrepareResult.TooShort
    var tMin = Long.MaxValue; var tMax = Long.MinValue
    var i = 0
    while (i < l) {
      val t = points(i).t
      if (t < tMin) tMin = t
      if (t > tMax) tMax = t
      i += 1
    }
    val half = intervalS / 2
    def roundT(t: Long): Long = {
      val rem = t % intervalS
      if (rem > half) (t / intervalS + 1) * intervalS
      else (t / intervalS) * intervalS
    }
    val gridded = (roundT(tMax) - roundT(tMin)) / intervalS + 1
    if (gridded > maxLen) PrepareResult.OverCap(gridded)
    else prepare(points, m, intervalS) match {
      case Some(p) => PrepareResult.Ok(p)
      case None    => PrepareResult.TooShort
    }
  }

  /** Initial [alpha, beta, gamma, phi, l0, b0, seasonals…] guess vector
    * (smoothing slots left 0 for the seed grid to fill). Seasonal missing
    * leading slots contribute nothing to l0/b0; NaN seasonal slots fall
    * back to the neutral multiplicative factor 1 so a gap in the first
    * season cannot zero-divide the recursion. */
  private[graft] def initialParams(y: Array[Double], m: Int): Array[Double] = {
    val seasonal = m >= 2
    var l0 = 0.0
    if (seasonal) {
      var i = 0
      while (i < m) { if (!y(i).isNaN) l0 += (1.0 / m) * y(i); i += 1 }
    } else {
      l0 += (1 - Weight) * y(0)
      l0 += Weight * y(1)
    }
    var b0 = 0.0
    if (seasonal) {
      var i = 0
      while (i < m && m + i < y.length) {
        if (!y(i).isNaN && !y(m + i).isNaN) b0 += 1.0 / m * (y(m + i) - y(i)) / m
        i += 1
      }
    } else {
      if (!y(1).isNaN) b0 = Weight * (y(1) - y(0))
    }
    val s0 =
      if (seasonal) Array.tabulate(m)(i => if (!y(i).isNaN) y(i) / l0 else 1.0)
      else Array.empty[Double]
    val params0 = new Array[Double](6 + s0.length)
    params0(4) = l0
    params0(5) = b0
    System.arraycopy(s0, 0, params0, 6, s0.length)
    params0
  }

  /** The seed values the serial grid visits, in visit order — accumulated
    * addition kept so distributed and serial fits see bit-identical seeds. */
  private[graft] val SeedValues: Array[Double] = {
    val step = (GuessUpper - GuessLower) / GuessN
    val b = scala.collection.mutable.ArrayBuffer.empty[Double]
    var v = GuessLower
    while (v < GuessUpper) { b += v; v += step }
    b.toArray
  }

  /** Total restarts in the seed grid (alpha × beta × gamma × phi). */
  private[graft] val SeedCount: Int = SeedValues.length * SeedValues.length *
    SeedValues.length * SeedValues.length

  /** Simulate the damped recursion from the initial state in `params`
    * ([alpha, beta, gamma, phi, l0, b0, seasonals...]) over the fit span
    * plus `hh` future steps. Clamps the four smoothing parameters in
    * place — the optimizer's vertices see the clamp, as in the original. */
  private def simulate(hh: Int, params: Array[Double], y: Array[Double], m: Int): Array[Double] = {
    val seasonal = m >= 2
    var i = 0
    while (i < 4) {
      if (params(i) > 1) params(i) = 1
      if (params(i) < 0) params(i) = 0
      i += 1
    }
    var yT = y(0)
    val phi = params(3)
    var phiH = phi
    var lT = params(4)
    var bT = params(5)
    // ring of the current per-slot seasonal factors: the slot of the
    // PREVIOUS time (the observation being absorbed) feeds the level
    // update and is replaced after use; the slot of the CURRENT time
    // scales the emission
    val seasonals = new Array[Double](math.max(params.length - 6, 0))
    System.arraycopy(params, 6, seasonals, 0, params.length - 6)
    val out = new Array[Double](y.length + hh)
    out(0) = yT
    var stm = 1.0
    var stmh = 1.0
    // phi^tt kept incrementally — pow() per step dominated the fit cost
    // (256 restarts × ~1000 simplex iterations × series length)
    var phiPow = phi
    var tt = 1
    while (tt < y.length + hh) {
      if (seasonal) {
        stm = seasonals(Math.floorMod(tt - 1, m))
        stmh = seasonals(Math.floorMod(tt, m))
      }
      val lTp = lT
      lT = params(0) * (yT / stm) + (1 - params(0)) * (lTp + phi * bT)
      bT = params(1) * (lT - lTp) + (1 - params(1)) * phi * bT
      val sT = params(2) * (yT / lT) + (1 - params(2)) * stm
      yT = (lT + phiH * bT) * stmh
      phiH += phiPow
      phiPow *= phi
      if (seasonal) seasonals(Math.floorMod(tt - 1, m)) = sT
      out(tt) = yT
      tt += 1
    }
    out
  }

  /** Fused simulate+SSE: identical recursion and accumulation order to
    * `simulate` followed by the residual loop, but with no output array and
    * a caller-provided seasonal scratch buffer — the objective runs
    * hundreds of thousands of times per fit (restarts × simplex
    * iterations), so the two allocations per call dominated the fit cost.
    * Clamps the smoothing parameters in place exactly like `simulate`
    * (the optimizer's vertices must see the clamp). */
  private def sseOf(params: Array[Double], y: Array[Double], m: Int,
      seasonals: Array[Double]): Double = {
    val seasonal = m >= 2
    var i = 0
    while (i < 4) {
      if (params(i) > 1) params(i) = 1
      if (params(i) < 0) params(i) = 0
      i += 1
    }
    var yT = y(0)
    var acc = 0.0
    if (!y(0).isNaN) {
      if (yT < 0) return Double.PositiveInfinity
      val d0 = yT - y(0)
      acc += d0 * d0
    }
    val phi = params(3)
    var phiH = phi
    var lT = params(4)
    var bT = params(5)
    System.arraycopy(params, 6, seasonals, 0, params.length - 6)
    var stm = 1.0
    var stmh = 1.0
    var phiPow = phi
    var tt = 1
    while (tt < y.length) {
      if (seasonal) {
        stm = seasonals(Math.floorMod(tt - 1, m))
        stmh = seasonals(Math.floorMod(tt, m))
      }
      val lTp = lT
      lT = params(0) * (yT / stm) + (1 - params(0)) * (lTp + phi * bT)
      bT = params(1) * (lT - lTp) + (1 - params(1)) * phi * bT
      val sT = params(2) * (yT / lT) + (1 - params(2)) * stm
      yT = (lT + phiH * bT) * stmh
      phiH += phiPow
      phiPow *= phi
      if (seasonal) seasonals(Math.floorMod(tt - 1, m)) = sT
      if (!y(tt).isNaN) {
        if (yT < 0) return Double.PositiveInfinity
        val d = yT - y(tt)
        acc += d * d
      }
      tt += 1
    }
    acc
  }

  /** One Nelder-Mead restart from grid seed `idx` (row-major over
    * alpha, beta, gamma, phi in [[SeedValues]] order). */
  private[graft] def fitSeed(y: Array[Double], m: Int, params0: Array[Double],
      idx: Int): (Double, Array[Double]) = {
    val n = SeedValues.length
    val p = params0.clone()
    p(0) = SeedValues(idx / (n * n * n) % n)
    p(1) = SeedValues(idx / (n * n) % n)
    p(2) = SeedValues(idx / n % n)
    p(3) = SeedValues(idx % n)
    // one scratch per restart, reused across every objective call — the
    // simplex runs single-threaded inside this call
    val scratch = new Array[Double](math.max(params0.length - 6, 0))
    NelderMead.optimize(sseOf(_, y, m, scratch), p, Epsilon, 1.0)
  }

  /** Final emission from the winning parameters. */
  private[graft] def emitPoints(prep: Prepared, params: Array[Double], h: Int,
      m: Int, intervalS: Long, withFit: Boolean): Array[TV] = {
    val fc = simulate(h, params, prep.y, m)
    val out = scala.collection.mutable.ArrayBuffer.empty[TV]
    if (withFit) {
      var i = 0
      while (i < fc.length) {
        if (!fc(i).isNaN) out += TV(prep.t0 + intervalS * i, fc(i))
        i += 1
      }
    } else {
      var i = 0
      while (i + prep.y.length < fc.length) {
        val v = fc(prep.y.length + i)
        if (!v.isNaN) out += TV(prep.tN + intervalS * (i + 1), v)
        i += 1
      }
    }
    out.toArray
  }

  /** The serial seed-grid argmin over a prepared series — the winning
    * parameter vector `run` emits from. Exposed (private[graft]) so the
    * q_holt_winters oracle generator can embed the winner as literals. */
  private[graft] def fitPrepared(prep: Prepared, m: Int): Array[Double] = {
    val params0 = initialParams(prep.y, m)
    var minSSE = Double.PositiveInfinity
    var best: Array[Double] = null
    var idx = 0
    while (idx < SeedCount) {
      val (fbest, opt) = fitSeed(prep.y, m, params0, idx)
      // a NaN objective (degenerate series) must never pin `best`
      // against later finite seeds
      if (best == null || (!fbest.isNaN && (minSSE.isNaN || fbest < minSSE))) {
        minSSE = fbest; best = opt
      }
      idx += 1
    }
    best
  }

  private[graft] def run(points: Array[TV], h: Int, m: Int, intervalS: Long,
      withFit: Boolean): Array[TV] = {
    if (h <= 0) return Array.empty
    prepare(points, m, intervalS) match {
      case None => Array.empty
      case Some(prep) =>
        emitPoints(prep, fitPrepared(prep, m), h, m, intervalS, withFit)
    }
  }

  /** Values-only convenience over a unit grid (t = 0, 1, 2, …). */
  private[graft] def forecast(values: Array[Double], h: Int, m: Int,
      withFit: Boolean): Array[Double] =
    run(values.zipWithIndex.map { case (v, i) => TV(i.toLong, v) },
      h, m, 1L, withFit).map(_.v)

  /** Collect a small result and rebuild it as a driver-local DataFrame
    * (LocalRelation): downstream consumers no longer depend on any executor
    * state or upstream lineage. Only for results already known to be
    * driver-bounded (the callers collected their whole input to the driver
    * to plan the fit — the forecast is strictly smaller). */
  private def driverLocal(
      spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** Restart fan-out over already-prepared per-group series: broadcasts the
    * series, runs one task row per (group, seed), argmin-reduces per group.
    * Returns the un-materialized plan plus the broadcast the caller MUST
    * destroy once the plan has been materialized. */
  private def fanOutFromPrepared(
      spark: org.apache.spark.sql.SparkSession,
      prepared: Array[(String, Prepared, Array[Double])],
      groupCol: String, tCol: String, vCol: String,
      h: Int, m: Int, intervalS: Long,
      withFit: Boolean): (org.apache.spark.sql.DataFrame,
        org.apache.spark.broadcast.Broadcast[Array[(String, Prepared, Array[Double])]]) = {
    import spark.implicits._
    val mm = m; val hh = h; val ivl = intervalS; val wf = withFit
    val bc = spark.sparkContext.broadcast(prepared)
    val nG = prepared.length
    val total = nG.toLong * SeedCount
    val slices = math.min(total, 8L * math.max(spark.sparkContext.defaultParallelism, 1)).toInt
    val fits = spark.range(0, total, 1, slices).map { id =>
      val gi = (id % nG).toInt
      val seed = (id / nG).toInt
      val (_, prep, p0) = bc.value(gi)
      val (sse, ps) = fitSeed(prep.y, mm, p0, seed)
      (gi, seed, sse, ps)
    }
    // argmin with ties → lowest seed, NaN never beating a finite SSE:
    // associative, and equal to the serial loop's first-strictly-smaller
    // scan in seed order
    val out = fits.groupByKey(_._1)
      .reduceGroups { (a, b) =>
        val (lo, hi) = if (a._2 < b._2) (a, b) else (b, a)
        if (!hi._3.isNaN && (lo._3.isNaN || hi._3 < lo._3)) hi else lo
      }
      .flatMap { case (gi, (_, _, _, ps)) =>
        val (g, prep, _) = bc.value(gi)
        emitPoints(prep, ps, hh, mm, ivl, wf).iterator.map(p => (g, p.t, p.v))
      }
      .toDF(groupCol, tCol, vCol)
    (out, bc)
  }

  /** Driver-side fit over already-collected per-group series: the restart
    * grid runs on the driver's thread pool. Used when the TOTAL fit work is
    * tiny (a few groups × short series) — the same regime where a broadcast
    * join would collect its build side — because even an optimal cluster
    * fan-out then pays more in job/task scheduling than the whole fit costs.
    * Same argmin scan as [[run]], so results are bit-identical. */
  private def driverFit(
      spark: org.apache.spark.sql.SparkSession,
      prepared: Array[(String, Prepared, Array[Double])],
      groupCol: String, tCol: String, vCol: String,
      h: Int, m: Int, intervalS: Long,
      withFit: Boolean): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val nG = prepared.length
    val total = nG * SeedCount
    val all = new Array[(Double, Array[Double])](total)
    // distinct indices; the terminal op joins before returning, so the
    // subsequent reads see every write
    java.util.stream.IntStream.range(0, total).parallel().forEach { id =>
      val gi = id % nG
      val seed = id / nG
      val (_, prep, p0) = prepared(gi)
      all(id) = fitSeed(prep.y, m, p0, seed)
    }
    val rows = prepared.iterator.zipWithIndex.flatMap { case ((g, prep, _), gi) =>
      var minSSE = Double.PositiveInfinity
      var best: Array[Double] = null
      var seed = 0
      while (seed < SeedCount) {
        val (sse, ps) = all(seed * nG + gi)
        if (best == null || (!sse.isNaN && (minSSE.isNaN || sse < minSSE))) {
          minSSE = sse; best = ps
        }
        seed += 1
      }
      emitPoints(prep, best, h, m, intervalS, withFit).iterator.map(p => (g, p.t, p.v))
    }.toSeq
    rows.toDF(groupCol, tCol, vCol)
  }

  /** Auto-dispatching fit. ONE probe job grid-prepares every group
    * executor-side and collects at most `cores` of them (each series capped,
    * so the driver intake is bounded at ~maxBroadcastPoints × 8 B even in
    * the worst case), then picks one of three shapes:
    *
    *  - **driver fit** — every group seen, total gridded work tiny
    *    (≤ driverFitMaxPoints): the restart grid runs on the driver's
    *    thread pool with ZERO further Spark jobs. The same regime where a
    *    broadcast join collects its build side; cluster scheduling would
    *    cost more than the whole fit.
    *  - **restart fan-out** — every group seen, total gridded series fit in
    *    a broadcast (≤ maxBroadcastPoints): one task row per (group, seed)
    *    spreads the 4^4 Nelder-Mead restarts across the cluster (few fat
    *    groups would idle it under the serial Aggregator — measured 2.3 s
    *    serial vs 0.5 s fan-out at 5 groups × ~150 points on 32 cores).
    *    The probe's prepared series are reused; no second prepare pass.
    *  - **serial Aggregator** — many groups (the probe's limit(cores) came
    *    back full) or any series over the broadcast cap: per-group fits
    *    already saturate the cluster. The input is EXPLICITLY repartitioned
    *    by group (a user-specified partition count AQE will not coalesce):
    *    a series table is tiny in bytes but carries ~0.2 core-SECONDS of
    *    fit per group, so AQE's size-based coalescing would otherwise fold
    *    thousands of fits into one task (measured 4× on 5 groups).
    *
    * The probe's prepare runs once per group either way; for the serial
    * branch that one extra pass over the series table is noise next to the
    * fit cost it routes (fits are ~10^4× the bytes-cost of their series).
    *
    * The input is persisted around the probe so the upstream pipeline (a
    * 100 TB scan + aggregation, typically) is never recomputed; a
    * caller-managed persist is respected and left untouched. The driver and
    * fan-out branches return DRIVER-LOCAL results (a LocalRelation — their
    * inputs were already driver-collected to plan the fit, so the smaller
    * forecast collects for free and survives executor loss). Only the
    * serial branch, whose result is #groups×h and unbounded, still
    * materializes via localCheckpoint — executor-local blocks are lost on
    * executor failure there, an acknowledged trade (a reliable `checkpoint`
    * would need a configured HDFS checkpoint dir). */
  def holtWintersAuto(
      points: org.apache.spark.sql.DataFrame,
      groupCol: String, tCol: String, vCol: String,
      h: Int, m: Int, intervalS: Long,
      withFit: Boolean = false,
      driverFitMaxPoints: Long = 64L * 1024,
      maxBroadcastPoints: Long = 16L * 1024 * 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val spark = points.sparkSession
    import spark.implicits._
    // respect a caller-managed cache: persisting again would be a no-op but
    // our unpersist below would silently evict the caller's blocks
    val callerPersisted =
      points.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached =
      if (callerPersisted) points
      else points.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cores = math.max(spark.sparkContext.defaultParallelism, 1)
    val perGroupCap = math.max(1024L, maxBroadcastPoints / math.max(8L, cores.toLong))
    val mm = m; val ivl = intervalS; val cap = perGroupCap
    val typed = cached.select(
      col(groupCol).cast("string"), col(tCol).cast("long"), col(vCol).cast("double"))
      .as[(String, Long, Double)]
    // too-short groups emit nothing (they produce no forecast on any path);
    // over-cap groups emit a marker row with an empty series
    val probe: Array[(String, Array[Double], Long, Long, Array[Double], Long)] =
      typed.groupByKey(_._1)
        .flatMapGroups { (g, it) =>
          prepareBounded(it.map(r => TV(r._2, r._3)).toArray, mm, ivl, cap) match {
            case PrepareResult.TooShort => Iterator.empty
            case PrepareResult.OverCap(len) =>
              Iterator.single((g, Array.empty[Double], 0L, 0L, Array.empty[Double], len))
            case PrepareResult.Ok(p) =>
              Iterator.single((g, p.y, p.t0, p.tN, initialParams(p.y, mm), p.y.length.toLong))
          }
        }
        .limit(cores)
        .collect()
    val sawAllGroups = probe.length < cores
    val anyOverCap = probe.exists(_._2.isEmpty)
    val totalGridded = probe.iterator.map(_._6).sum
    val prepared = probe.filter(_._2.nonEmpty)
      .sortBy(r => Option(r._1))
      .map { case (g, y, t0, tN, p0, _) => (g, Prepared(y, t0, tN), p0) }
    val out =
      if (sawAllGroups && probe.isEmpty) {
        Seq.empty[(String, Long, Double)].toDF(groupCol, tCol, vCol)
      } else if (sawAllGroups && !anyOverCap && totalGridded <= driverFitMaxPoints) {
        driverFit(spark, prepared, groupCol, tCol, vCol, h, m, intervalS, withFit)
      } else if (sawAllGroups && !anyOverCap && totalGridded <= maxBroadcastPoints) {
        val (df, bc) = fanOutFromPrepared(
          spark, prepared, groupCol, tCol, vCol, h, m, intervalS, withFit)
        // driver-local result (≤ cores groups × (fit+h) rows): survives
        // executor loss, unlike the former localCheckpoint(true)
        val fitted = driverLocal(spark, df)
        bc.destroy()
        fitted
      } else {
        val p = math.max(4 * cores, spark.sessionState.conf.numShufflePartitions)
        cached.select(
            col(groupCol).cast("string").as(groupCol),
            col(tCol).cast("long").as(tCol),
            col(vCol).cast("double").as(vCol))
          .repartition(p, col(groupCol))
          .groupBy(col(groupCol))
          .agg(holtWinters(col(tCol), col(vCol), h, m, intervalS, withFit).as("_hw"))
          .select(col(groupCol), explode(col("_hw")).as("_p"))
          .select(col(groupCol), col("_p.t").as(tCol), col("_p.v").as(vCol))
          .localCheckpoint(true)
      }
    if (!callerPersisted) cached.unpersist(false)
    out
  }

  /** Aggregator over (epochSeconds, value) rows; emits (t, v) points. */
  class HwAgg(h: Int, m: Int, intervalS: Long, withFit: Boolean)
      extends Aggregator[TV, Buf, Array[TV]] {
    def zero: Buf = Buf(Nil)
    def reduce(b: Buf, a: TV): Buf = { b.items = a :: b.items; b }
    def merge(a: Buf, b: Buf): Buf = { a.items = a.items ::: b.items; a }
    def finish(b: Buf): Array[TV] =
      run(b.items.toArray, h, m, intervalS, withFit)
    def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    def outputEncoder: Encoder[Array[TV]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[TV]]()
  }

  /** Column form: holtWinters(epoch_s, value, h, m, intervalS). Output is
    * an array of (t, v) structs — fit ++ forecast when withFit. */
  def holtWinters(timeS: Column, value: Column, h: Int, m: Int,
      intervalS: Long = 1L, withFit: Boolean = false): Column = {
    val agg = udaf(new HwAgg(h, m, intervalS, withFit), Encoders.product[TV])
    agg(timeS, value)
  }
}

/** Nelder-Mead simplex minimizer — the classic M. F. Hutt formulation
  * (mikehutt.com/neldermead.html; the same public-domain variant InfluxDB's
  * `query/neldermead` package uses), including its quirks: the non-worst
  * vertices keep stale objective values after a shrink, and convergence
  * tests the population standard deviation of the vertex values. */
private[operators] object NelderMead {
  private val MaxIterations = 1000
  private val Alpha = 1.0 // reflection
  private val Beta  = 0.5 // contraction
  private val Gamma = 2.0 // expansion

  /** Minimizes `objfunc` from `start`; returns (best value, best vertex). */
  def optimize(objfunc: Array[Double] => Double, start: Array[Double],
      epsilon: Double, scale: Double): (Double, Array[Double]) = {
    val n = start.length
    val v = Array.ofDim[Double](n + 1, n)
    val f = new Array[Double](n + 1)
    val vr = new Array[Double](n)
    val ve = new Array[Double](n)
    val vc = new Array[Double](n)
    val vm = new Array[Double](n)

    val pn = scale * (math.sqrt((n + 1).toDouble) - 1 + n) / (n * math.sqrt(2.0))
    val qn = scale * (math.sqrt((n + 1).toDouble) - 1) / (n * math.sqrt(2.0))

    var i = 0
    while (i < n) { v(0)(i) = start(i); i += 1 }
    i = 1
    while (i <= n) {
      var j = 0
      while (j < n) { v(i)(j) = (if (i - 1 == j) pn else qn) + start(j); j += 1 }
      i += 1
    }
    i = 0
    while (i <= n) { f(i) = objfunc(v(i)); i += 1 }

    var itr = 1
    var converged = false
    while (itr <= MaxIterations && !converged) {
      var vg = 0
      var vs = 0
      i = 0
      while (i <= n) {
        if (f(i) > f(vg)) vg = i
        if (f(i) < f(vs)) vs = i
        i += 1
      }
      var vh = vs
      i = 0
      while (i <= n) { if (f(i) > f(vh) && f(i) < f(vg)) vh = i; i += 1 }

      i = 0
      while (i < n) {
        var cent = 0.0
        var k = 0
        while (k <= n) { if (k != vg) cent += v(k)(i); k += 1 }
        vm(i) = cent / n
        i += 1
      }

      i = 0
      while (i < n) { vr(i) = vm(i) + Alpha * (vm(i) - v(vg)(i)); i += 1 }
      val fr = objfunc(vr)
      if (fr < f(vh) && fr >= f(vs)) {
        i = 0; while (i < n) { v(vg)(i) = vr(i); i += 1 }
        f(vg) = fr
      }
      if (fr < f(vs)) {
        i = 0; while (i < n) { ve(i) = vm(i) + Gamma * (vr(i) - vm(i)); i += 1 }
        val fe = objfunc(ve)
        if (fe < fr) {
          i = 0; while (i < n) { v(vg)(i) = ve(i); i += 1 }
          f(vg) = fe
        } else {
          i = 0; while (i < n) { v(vg)(i) = vr(i); i += 1 }
          f(vg) = fr
        }
      }
      if (fr >= f(vh)) {
        if (fr < f(vg) && fr >= f(vh)) {
          // outside contraction
          i = 0; while (i < n) { vc(i) = vm(i) + Beta * (vr(i) - vm(i)); i += 1 }
        } else {
          // inside contraction
          i = 0; while (i < n) { vc(i) = vm(i) - Beta * (vm(i) - v(vg)(i)); i += 1 }
        }
        val fcv = objfunc(vc)
        if (fcv < f(vg)) {
          i = 0; while (i < n) { v(vg)(i) = vc(i); i += 1 }
          f(vg) = fcv
        } else {
          // shrink toward the best vertex; refresh only the worst two
          // objective values (the original's behavior — kept for parity)
          var row = 0
          while (row <= n) {
            if (row != vs) {
              i = 0
              while (i < n) { v(row)(i) = v(vs)(i) + (v(row)(i) - v(vs)(i)) / 2.0; i += 1 }
            }
            row += 1
          }
          f(vg) = objfunc(v(vg))
          f(vh) = objfunc(v(vh))
        }
      }

      var fsum = 0.0
      i = 0
      while (i <= n) { fsum += f(i); i += 1 }
      val favg = fsum / (n + 1)
      var sdev = 0.0
      i = 0
      while (i <= n) { sdev += math.pow(f(i) - favg, 2.0) / n; i += 1 }
      sdev = math.sqrt(sdev)
      if (sdev < epsilon) converged = true
      itr += 1
    }

    var vs = 0
    i = 0
    while (i <= n) { if (f(i) < f(vs)) vs = i; i += 1 }
    (f(vs), v(vs))
  }
}
