package graft.queries

import graft.api.Pipe
import graft.operators.BatchScheduler
import graft.streaming.AlertStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wave 4 (round 3): aligned window emission, k-combinations, multi-field
  * flatten, batch query() period stepping. Same conventions as
  * [[EventQueries]]. */
object EventQueries4 {
  import EventQueries.{pipe, preludeSql}

  // -------------------------------------------- window().align().fillPeriod()
  //
  // period=2h, every=1h, align+fillPeriod (reference window.go:108-126,
  // 150-224): boundary B=k·3600s emits iff a point arms it (a point in
  // [B-every,B), or B is the first boundary after t0+period) and a point at
  // or after B exists; batch contents are [B-period, B). Both sides state
  // the identical closed form.

  /** q_window_aligned: count/mean per emitted aligned window per event_type. */
  def windowAlignedQ(s: SparkSession, dir: String): DataFrame = {
    val p = pipe(s, dir).windowAligned(7200, 3600, fillPeriod = true)
    p.df.groupBy(col("event_type"), col("wemit_s"))
      .agg(count(lit(1)).as("cnt"), round(avg("value"), 6).as("mean_v"))
      .orderBy("event_type", "wemit_s")
  }
  val windowAlignedSql: String = {
    val ev = 3600000000L // every, µs
    val pd = 7200000000L // period, µs
    s"""$preludeSql,
       st AS (SELECT event_type, min(tus) AS mn, max(tus) AS mx FROM e GROUP BY 1),
       fk AS (SELECT event_type, CAST(floor((mn + $pd)/$ev.0) + 1 AS BIGINT) AS firstk, mx FROM st),
       armed AS (
         SELECT DISTINCT event_type, CAST(floor(tus/$ev.0) + 1 AS BIGINT) AS k FROM e
         UNION SELECT event_type, firstk AS k FROM fk),
       em AS (SELECT a.event_type, a.k FROM armed a JOIN fk USING (event_type)
              WHERE a.k >= fk.firstk AND a.k * $ev <= fk.mx),
       mem AS (SELECT event_type, value,
                      unnest(generate_series(CAST(floor(tus/$ev.0) + 1 AS BIGINT),
                                             CAST(floor((tus + $pd)/$ev.0) AS BIGINT))) AS k
               FROM e)
       SELECT m.event_type, CAST(m.k * 3600 AS BIGINT) AS wemit_s,
              count(*) AS cnt, round(avg(m.value), 6) AS mean_v
       FROM mem m JOIN em ON em.event_type = m.event_type AND em.k = m.k
       GROUP BY 1, 2 ORDER BY 1, 2""".replaceAll("\\s+", " ")
  }

  // ----------------------------------------------------- alert().all()

  /** q_alert_all: hourly windowed batches per event_type through the batch
    * alert FSM with `.all()` (reference pipeline/alert.go:490-496 +
    * alert.go:1022-1090): the batch level is the LOWEST point level (every
    * point must match), the event time is the batch time, and an event
    * emits when the level is non-OK or changed. The oracle restates the
    * no-suppression FSM in closed form (lag for `changed`, running max of
    * OK→non-OK transitions for the alert duration). */
  def alertAllQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = pipe(s, dir).df.withColumn("tus", expr("ts_ns DIV 1000"))
    val lvl = AlertStream.levelColumn(col("value") > 10, col("value") > 25, col("value") > 50)
    val batches = AlertStream.batchLevels(
      d, groupCol = col("event_type"),
      batchTimeUs = (floor(col("tus") / 1000000.0 / 3600) * 3600000000L).cast("long"),
      pointTimeUs = col("tus"), idTiebreak = col("event_id"),
      level = lvl, all = true)
    val events = AlertStream.runBatchLevels(
      batches.select(col("group"), col("time_us").as("timeUs"), col("level"))
        .as[AlertStream.LevelPoint],
      AlertStream.AlertConfig())
    events.toDF()
      .select(col("group").as("event_type"), (col("timeUs") / 1000000L).cast("long").as("batch_s"),
        col("level").cast("long").as("level"), col("changed"),
        (col("durationUs") / 1000000L).cast("long").as("duration_s"))
      .orderBy("event_type", "batch_s")
  }
  val alertAllSql: String =
    s"""$preludeSql, pl AS (
       SELECT event_type, CAST(floor(tus/1000000.0/3600)*3600 AS BIGINT) AS bs,
              CASE WHEN value > 50 THEN 3 WHEN value > 25 THEN 2 WHEN value > 10 THEN 1 ELSE 0 END AS plvl
       FROM e),
       b AS (SELECT event_type, bs, min(plvl) AS lvl FROM pl GROUP BY 1, 2),
       r1 AS (SELECT event_type, bs, lvl,
                coalesce(lag(lvl) OVER (PARTITION BY event_type ORDER BY bs), 0) AS prev
              FROM b),
       r2 AS (SELECT *, max(CASE WHEN prev = 0 AND lvl <> 0 THEN bs END)
                OVER (PARTITION BY event_type ORDER BY bs ROWS UNBOUNDED PRECEDING) AS run_start
              FROM r1)
       SELECT event_type, bs AS batch_s, CAST(lvl AS BIGINT) AS level, (lvl <> prev) AS changed,
              CAST(bs - coalesce(run_start, bs) AS BIGINT) AS duration_s
       FROM r2 WHERE lvl <> 0 OR lvl <> prev ORDER BY 1, 2""".replaceAll("\\s+", " ")

  // ------------------------------------- batch query() period scheduling

  /** q_batch_periods: batch|query() every=2h aligned, offset=15m,
    * period=2h (reference batch.go:277-306 period stepping + query.go:37-70
    * bound injection): each tick T reads [T-15m-2h, T-15m) and aggregates
    * per event_type. period == every → each point lands in exactly one
    * tick's frame. */
  def batchPeriodsQ(s: SparkSession, dir: String): DataFrame = {
    val ticked = BatchScheduler.assignEveryTicks(
      pipe(s, dir).df, "time", everySeconds = 7200, align = true,
      periodSeconds = 7200, offsetSeconds = 900)
    ticked.groupBy(col("event_type"), (col("tick_us") / 1000000L).cast("long").as("tick_s"))
      .agg(count(lit(1)).as("cnt"), round(avg("value"), 6).as("mean_v"))
      .orderBy("event_type", "tick_s")
  }
  val batchPeriodsSql: String = {
    val ev = 7200000000L
    val off = 900000000L
    s"""$preludeSql,
       st AS (SELECT min(tus) AS mn, max(tus) AS mx FROM e),
       fk AS (SELECT CAST(floor(mn/$ev.0) AS BIGINT)
                     + CASE WHEN 2*(mn - floor(mn/$ev.0)*$ev) >= $ev THEN 2 ELSE 1 END AS jfirst,
                     mx FROM st),
       m AS (SELECT event_type, value,
                    CAST(floor((tus + $off)/$ev.0) + 1 AS BIGINT) AS j FROM e)
       SELECT event_type, CAST(j * 7200 AS BIGINT) AS tick_s,
              count(*) AS cnt, round(avg(value), 6) AS mean_v
       FROM m, fk WHERE j >= fk.jfirst AND j * $ev <= fk.mx
       GROUP BY 1, 2 ORDER BY 1, 2""".replaceAll("\\s+", " ")
  }

  // ------------------------------------------------- combine() with k = 3

  /** q_combine_triples: every ordered triple of very-high-value points
    * within the same hour+event_type (reference combine.go:142-231 with
    * three lambdas; max cap active but unreached). */
  def combineTriplesQ(s: SparkSession, dir: String): DataFrame = {
    val p = pipe(s, dir)
      .eval("v" -> col("value")).delete("props", "ts_ns", "value", "user_id")
    val pred = col("v") > 97
    p.combineK(Seq(pred, pred, pred), 3600, Seq("a", "b", "c"), maxCombinations = 100000)
      .select(col("event_type"), col("bucket_s"),
        col("a_event_id").as("id_a"), col("b_event_id").as("id_b"), col("c_event_id").as("id_c"),
        col("a_v"), col("b_v"), col("c_v"))
      .orderBy("event_type", "bucket_s", "id_a", "id_b", "id_c")
  }
  val combineTriplesSql: String =
    s"""$preludeSql, d AS (
       SELECT event_type, CAST(floor(tus/1000000.0/3600)*3600 AS BIGINT) AS bucket_s, event_id, value AS v
       FROM e WHERE value > 97)
       SELECT a.event_type, a.bucket_s,
              a.event_id AS id_a, b.event_id AS id_b, c.event_id AS id_c,
              a.v AS a_v, b.v AS b_v, c.v AS c_v
       FROM d a
       JOIN d b ON a.event_type = b.event_type AND a.bucket_s = b.bucket_s AND a.event_id < b.event_id
       JOIN d c ON b.event_type = c.event_type AND b.bucket_s = c.bucket_s AND b.event_id < c.event_id
       ORDER BY 1, 2, 3, 4, 5""".replaceAll("\\s+", " ")

  // -------------------------------------- flatten() across multiple fields

  /** q_flatten_multi: flatten().on('event_type').fields(value, event_id)
    * with 5m tolerance per user (reference flatten.go:53-97 — every field
    * gets the `<dimValue><delim><field>` prefix; '_' delimiter exercises
    * the configurable delimiter). */
  def flattenMultiQ(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase")
    val p = Pipe(
      pipe(s, dir).df.filter(col("event_type").isin(types: _*)),
      timeCol = "time", dims = Seq("user_id", "event_type"), idCol = Some("event_id"))
    val out = p.flattenOnFields("event_type", types, Seq("value", "event_id"), 300, delimiter = "_")
    out.df.select(
      col("user_id") +: col("bucket_s") +:
        types.flatMap(v => Seq(round(col(s"${v}_value"), 6).as(s"${v}_value"), col(s"${v}_event_id"))): _*)
      .orderBy("user_id", "bucket_s")
  }
  val flattenMultiSql: String =
    s"""$preludeSql, m AS (
       SELECT *, CAST(floor(tus/1000000.0/300)*300 AS BIGINT) AS bucket_s,
              printf('%020d%010d', tus, event_id) AS ord
       FROM e WHERE event_type IN ('click', 'view', 'purchase'))
       SELECT user_id, bucket_s,
              round(arg_min(value, ord) FILTER (WHERE event_type='click'), 6) AS click_value,
              arg_min(event_id, ord) FILTER (WHERE event_type='click') AS click_event_id,
              round(arg_min(value, ord) FILTER (WHERE event_type='view'), 6) AS view_value,
              arg_min(event_id, ord) FILTER (WHERE event_type='view') AS view_event_id,
              round(arg_min(value, ord) FILTER (WHERE event_type='purchase'), 6) AS purchase_value,
              arg_min(event_id, ord) FILTER (WHERE event_type='purchase') AS purchase_event_id
       FROM m GROUP BY 1, 2 ORDER BY 1, 2""".replaceAll("\\s+", " ")

  // ----------------------------------------------------- n-way join + fill

  /** q_join_fill: three per-type minute-bucket sum streams, n-way
    * full-outer joined on the rounded time with fill(0.0) — the reference's
    * join(o1,o2).as(...).fill(value) surface (pipeline/join.go:120-150;
    * golden parity via TestStream_JoinN / TestStream_Join_Fill in
    * GoldenReplaySpec). */
  def joinFillQ(s: SparkSession, dir: String): DataFrame = {
    val base = pipe(s, dir)
    def side(t: String) = {
      val d = base.df.filter(col("event_type") === t)
        .withColumn("bt", timestamp_seconds(
          (floor(unix_micros(col("time")) / 1000000.0 / 60) * 60).cast("long")))
        .groupBy("bt").agg(round(sum("value"), 6).as("sum_v"))
      Pipe(d, timeCol = "bt", dims = Nil)
    }
    side("click").joinMulti("click",
        Seq((side("purchase"), "purchase"), (side("error"), "err")),
        fill = Pipe.FillValue(0.0))
      .select(col("jt_us"), col("click_sum_v"), col("purchase_sum_v"), col("err_sum_v"))
      .orderBy("jt_us")
  }
  val joinFillSql: String =
    s"""$preludeSql,
       a AS (SELECT CAST(floor(tus/1000000.0/60)*60 AS BIGINT)*1000000 AS jt_us,
             round(sum(value),6) AS click_sum_v FROM e WHERE event_type='click' GROUP BY 1),
       b AS (SELECT CAST(floor(tus/1000000.0/60)*60 AS BIGINT)*1000000 AS jt_us,
             round(sum(value),6) AS purchase_sum_v FROM e WHERE event_type='purchase' GROUP BY 1),
       c AS (SELECT CAST(floor(tus/1000000.0/60)*60 AS BIGINT)*1000000 AS jt_us,
             round(sum(value),6) AS err_sum_v FROM e WHERE event_type='error' GROUP BY 1)
       SELECT jt_us, coalesce(click_sum_v, 0.0) AS click_sum_v,
              coalesce(purchase_sum_v, 0.0) AS purchase_sum_v,
              coalesce(err_sum_v, 0.0) AS err_sum_v
       FROM a FULL JOIN b USING (jt_us) FULL JOIN c USING (jt_us)
       ORDER BY jt_us""".replaceAll("\\s+", " ")

  // --------------------------------------------------------------- barrier

  /** q_barrier: the barrier node's emission laws (reference
    * barrier.go:86-320, [[graft.operators.Barrier]]) in oracle-checkable
    * batch form — replayed with arrival ≡ data time (the in-order case),
    * where the FSM's barrier set has a CLOSED FORM the oracle restates:
    *  - idle(1h): between consecutive arrivals a → a' of a group, the
    *    idle timer steps k = 1..⌊(a'−a)/idle⌋ barriers at a+k·idle (each
    *    barrier advances lastPointTime, so continued silence yields
    *    barriers every `idle` apart), then the kept point resets the
    *    timer; after the last arrival the grid continues to the harness
    *    end-wall;
    *  - period(6h): a pure wall grid a0+k·period from the group's first
    *    arrival to the end-wall, point arrivals never reset it.
    * Points survive unconditionally here (in-order arrival ⟹ data time ≥
    * every barrier fired before it — the drop guard is exercised by the
    * out-of-order golden replays instead). The `value > 90` filter thins
    * events to ~2h mean gaps so BOTH laws fire barriers between points.
    * Both modes emit through the real mapPartitions FSM on the Spark side
    * and through the closed form in DuckDB. */
  def barrierQ(s: SparkSession, dir: String): DataFrame = {
    val endWallUs = 1706659200000000L // 2024-01-31T00:00:00Z end-wall
    val e = graft.Graft.events(s, dir).filter(col("value") > 90)
      .select(col("event_type"),
        timestamp_micros(expr("ts_ns DIV 1000")).as("ts"),
        expr("ts_ns DIV 1000").as("arr_us"))
    def shape(mode: String, df: DataFrame): DataFrame =
      df.select(lit(mode).as("mode"), col("event_type"),
        unix_micros(col("ts")).as("t_us"),
        col("__evt_us").as("evt_us"), col("__barrier").as("is_barrier"))
    shape("idle", graft.operators.Barrier.idle(
        e, "ts", "arr_us", Seq("event_type"), 3600.0, endWallUs))
      .unionByName(shape("period", graft.operators.Barrier.periodic(
        e, "ts", "arr_us", Seq("event_type"), 21600.0, endWallUs)))
      .orderBy("mode", "event_type", "evt_us", "is_barrier", "t_us")
  }
  val barrierSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events WHERE value > 90),
       seq AS (SELECT event_type, us,
                lead(us) OVER (PARTITION BY event_type ORDER BY us) AS nxt FROM e),
       pts AS (SELECT m.mode, event_type, us AS t_us, us AS evt_us, false AS is_barrier
               FROM seq, (SELECT unnest(['idle', 'period']) AS mode) m),
       ib0 AS (SELECT event_type, us, coalesce(nxt, 1706659200000000) AS till FROM seq),
       ibk AS (SELECT event_type, us,
                unnest(range(1, (till - us) // 3600000000 + 1)) AS k FROM ib0),
       ib AS (SELECT 'idle' AS mode, event_type, us + 3600000000 * k AS t_us,
                     us + 3600000000 * k AS evt_us, true AS is_barrier FROM ibk),
       pb0 AS (SELECT event_type, min(us) AS a0 FROM e GROUP BY 1),
       pbk AS (SELECT event_type, a0,
                unnest(range(1, (1706659200000000 - a0) // 21600000000 + 1)) AS k FROM pb0),
       pb AS (SELECT 'period' AS mode, event_type, a0 + 21600000000 * k AS t_us,
                     a0 + 21600000000 * k AS evt_us, true AS is_barrier FROM pbk)
       SELECT mode, event_type, t_us, evt_us, is_barrier FROM pts
       UNION ALL SELECT * FROM ib
       UNION ALL SELECT * FROM pb
       ORDER BY mode, event_type, evt_us, is_barrier, t_us""".replaceAll("\\s+", " ")

  // ------------------------------------------------- count-window FSM

  /** q_window_count_fsm: the STREAMING count-window ring buffer
    * ([[graft.streaming.WindowStream.countWindowMean]], the state-store
    * analog of reference window.go:360-470's circularqueue) run through
    * the REAL FlatMapGroupsWithState FSM in batch execution, where its
    * emission law has a closed form the oracle restates: per group in
    * time order (rank r), every m-th point emits mean/count of the last
    * n points — rows BETWEEN n−1 PRECEDING AND CURRENT at r % m = 0,
    * plus r ≥ n when fillPeriod. Both fill modes union (the q_barrier
    * convention). Values are floor(value·1e6) — integer-valued doubles,
    * so the FSM's ring-order fold and the oracle's window avg sum the
    * same exact integers and the means are bit-equal regardless of
    * accumulation order. */
  def windowCountFsmQ(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.WindowStream
    import graft.streaming.WindowStream.CountPoint
    import s.implicits._
    val e = graft.Graft.events(s, dir)
      .select(col("event_type").as("group"),
        expr("ts_ns DIV 1000").as("timeUs"),
        floor(col("value") * 1e6).cast("double").as("value"))
      .as[CountPoint]
    def shape(mode: String, d: org.apache.spark.sql.Dataset[WindowStream.CountWindowAgg]) =
      d.toDF().select(lit(mode).as("mode"), col("group"),
        col("timeUs").as("t_us"), col("n").cast("long").as("n"), col("mean"))
    shape("roll", WindowStream.countWindowMean(e, n = 5, m = 3))
      .unionByName(shape("fill", WindowStream.countWindowMean(e, n = 5, m = 3, fillPeriod = true)))
      .orderBy("mode", "group", "t_us")
  }
  val windowCountFsmSql: String =
    """WITH e AS (SELECT event_type AS "group", epoch_us(ts) AS t_us,
                         floor(value * 1e6) AS v FROM events),
       r AS (SELECT "group", t_us,
               row_number() OVER (PARTITION BY "group" ORDER BY t_us) AS rn,
               count(*) OVER w AS n,
               sum(v) OVER w AS sv
             FROM e WINDOW w AS (PARTITION BY "group" ORDER BY t_us
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
       m AS (SELECT "group", t_us, rn, n::BIGINT AS n, sv / n AS mean FROM r WHERE rn % 3 = 0)
       SELECT 'roll' AS mode, "group", t_us, n, mean FROM m
       UNION ALL SELECT 'fill', "group", t_us, n, mean FROM m WHERE rn >= 5
       ORDER BY mode, "group", t_us""".replaceAll("\\s+", " ")

  // ----------------------------------------------------------- join .on()

  /** q_join_on: a coarser per-type stream joined onto a finer
    * (type, user-band) stream via on(event_type) — the reference's
    * subset-dimension join (join.go:157-238; golden parity via
    * TestStream_JoinOn). */
  def joinOnQ(s: SparkSession, dir: String): DataFrame = {
    val base = pipe(s, dir)
    def bucketed(d: org.apache.spark.sql.DataFrame) = d.withColumn("bt",
      timestamp_seconds((floor(unix_micros(col("time")) / 1000000.0 / 3600) * 3600).cast("long")))
    val global = bucketed(base.df).groupBy("event_type", "bt")
      .agg(round(sum("value"), 6).as("sum_v"))
    val fine = bucketed(base.df).withColumn("band", col("user_id") % 4)
      .groupBy("event_type", "band", "bt")
      .agg(round(sum("value"), 6).as("sum_v"))
    Pipe(global, "bt", Seq("event_type"))
      .joinMulti("g", Seq((Pipe(fine, "bt", Seq("event_type", "band")), "b")),
        on = Seq("event_type"))
      .withColumn("share", round(col("b_sum_v") / col("g_sum_v"), 6))
      .select(col("jt_us"), col("event_type"), col("band"),
        col("g_sum_v"), col("b_sum_v"), col("share"))
      .orderBy("jt_us", "event_type", "band")
  }
  val joinOnSql: String =
    s"""$preludeSql,
       g AS (SELECT event_type, CAST(floor(tus/1000000.0/3600)*3600 AS BIGINT)*1000000 AS jt_us,
             round(sum(value),6) AS g_sum_v FROM e GROUP BY 1, 2),
       b AS (SELECT event_type, user_id % 4 AS band,
             CAST(floor(tus/1000000.0/3600)*3600 AS BIGINT)*1000000 AS jt_us,
             round(sum(value),6) AS b_sum_v FROM e GROUP BY 1, 2, 3)
       SELECT jt_us, event_type, band, g_sum_v, b_sum_v,
              round(b_sum_v / g_sum_v, 6) AS share
       FROM g JOIN b USING (event_type, jt_us)
       ORDER BY jt_us, event_type, band""".replaceAll("\\s+", " ")

  // ------------------------------------------------- topics + inhibitors

  /** q_alert_inhibit: purchase alerts (value>150 → CRITICAL) inhibit click
    * events in the same user band while non-OK (reference alert/inhibit.go:
    * 10-90, alert.go:1225-1229) — the running-last-level rendering of
    * AlertTopics.applyInhibitors, stated identically in SQL. */
  def alertInhibitQ(s: SparkSession, dir: String): DataFrame = {
    val base = pipe(s, dir).df.withColumn("time_us", unix_micros(col("time")))
    val candidates = base.filter(col("event_type") === "click")
      .select(col("event_id"), (col("user_id") % 5).as("grp"), col("time_us"))
    val inhibitors = base.filter(col("event_type") === "purchase")
      .select((col("user_id") % 5).as("grp"), col("time_us"),
        when(col("value") > 150, 3).otherwise(0).as("level"))
    graft.streaming.AlertTopics.applyInhibitors(candidates, inhibitors, Seq("grp"))
      .select(col("event_id"), col("grp"), col("inhibited"))
      .orderBy("event_id")
  }
  val alertInhibitSql: String =
    s"""$preludeSql,
       c AS (SELECT event_id, user_id % 5 AS grp, tus, 1 AS src, NULL AS ilvl
             FROM e WHERE event_type = 'click'),
       i AS (SELECT NULL AS event_id, user_id % 5 AS grp, tus, 0 AS src,
             CASE WHEN value > 150 THEN 3 ELSE 0 END AS ilvl
             FROM e WHERE event_type = 'purchase'),
       u AS (SELECT * FROM c UNION ALL SELECT * FROM i),
       r AS (SELECT event_id, grp, src, coalesce(last_value(ilvl IGNORE NULLS) OVER (
               PARTITION BY grp ORDER BY tus, src
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS inh
             FROM u)
       SELECT event_id, grp, inh <> 0 AS inhibited FROM r WHERE src = 1
       ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_topic_states: the `/alerts/topics` state queries as data
    * (alert/topics.go TopicState :171-188 + EventStates :280-296):
    * topics = event_type, events = one per user; level = max CURRENT
    * per-event level (latest state per (topic,id) — a recovered
    * CRITICAL does not count), collected = total events ever; glob
    * pattern + minLevel filters. The per-event half is q's first 4
    * columns via the same latest-wins max-struct aggregate. */
  def topicStatesQ(s: SparkSession, dir: String): DataFrame = {
    val ev = pipe(s, dir).df.select(
      col("event_type").as("topic"),
      concat(lit("u"), col("user_id")).as("id"),
      unix_micros(col("time")).as("time_us"),
      when(col("value") > 90, 3).when(col("value") > 70, 2)
        .when(col("value") > 50, 1).otherwise(0).as("level"))
    graft.streaming.AlertTopics.topicStates(ev, pattern = "*", minLevel = 1)
      .orderBy("topic")
  }
  val topicStatesSql: String =
    s"""$preludeSql,
       ev AS (SELECT event_type AS topic, 'u' || CAST(user_id AS VARCHAR) AS id, tus,
              CASE WHEN value > 90 THEN 3 WHEN value > 70 THEN 2
                   WHEN value > 50 THEN 1 ELSE 0 END AS lvl
              FROM e),
       latest AS (SELECT topic, id, lvl,
              row_number() OVER (PARTITION BY topic, id ORDER BY tus DESC, lvl DESC) AS rn,
              COUNT(*) OVER (PARTITION BY topic) AS topic_n
              FROM ev)
       SELECT topic, MAX(lvl) AS level, MAX(topic_n) AS collected
       FROM latest WHERE rn = 1
       GROUP BY topic HAVING MAX(lvl) >= 1
       ORDER BY topic""".replaceAll("\\s+", " ")

  // -------------------------------------------------- stateful lambdas

  /** q_stateful_lambdas: running count() and spread(value) per event_type
    * (reference tick/stateful/functions.go count/spread; EvalGroups golden
    * pins count). */
  def statefulLambdasQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TickFunctions
    val p = pipe(s, dir)
    p.df
      .withColumn("cnt", TickFunctions.runningCount(
        Seq(col("event_type")), col("time"), Seq(col("event_id"))))
      .withColumn("spread_v", round(TickFunctions.runningSpread(
        col("value"), Seq(col("event_type")), col("time"), Seq(col("event_id"))), 6))
      .select(col("event_id"), col("event_type"), col("cnt"), col("spread_v"))
      .orderBy("event_id")
  }
  val statefulLambdasSql: String =
    s"""$preludeSql SELECT event_id, event_type,
       CAST(row_number() OVER w AS BIGINT) AS cnt,
       round(max(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - min(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS spread_v
       FROM e WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id)
       ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_window_count: periodCount=20/everyCount=5 count windows per
    * event_type — every 5th arrival emits the mean of the trailing 20
    * (reference window.go:360-470; emission pinned by the
    * TestStream_Window_Count goldens). */
  def windowCountQ(s: SparkSession, dir: String): DataFrame = {
    val p = pipe(s, dir)
    val (df, frame) = p.windowCount(20)
    df.withColumn("mean_v", round(avg("value").over(frame), 6))
      .filter(col("__rn") % 5 === 0)
      .select(col("event_id"), col("event_type"),
        col("__rn").cast("long").as("rn"), col("mean_v"))
      .orderBy("event_id")
  }
  val windowCountSql: String =
    s"""$preludeSql SELECT event_id, event_type,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       round(avg(value) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS mean_v
       FROM e WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id)
       QUALIFY rn % 5 = 0 ORDER BY event_id""".replaceAll("\\s+", " ")

  // -------------------------------------------------- top with carried tags

  /** q_top_carry: top(3, value, user_id) — the selector's extra-tag
    * surface (pipeline/influxql.go:419; golden parity via
    * TestStream_TopSelector). */
  def topCarryQ(s: SparkSession, dir: String): DataFrame = {
    val p0 = EventQueries.pipe(s, dir)
    val p = p0.copy(
      df = p0.df.withColumn("time_us", unix_micros(col("time"))).drop("time"),
      timeCol = "time_us")
    graft.operators.InfluxQL.top(p, Seq("event_type"), "value", 3, "top_v",
        carry = Seq("user_id"))
      .orderBy("event_type", "rk")
  }
  val topCarrySql: String =
    s"""$preludeSql, r AS (
       SELECT event_type, tus, user_id, value,
              row_number() OVER (PARTITION BY event_type
                ORDER BY value DESC, tus ASC, event_id ASC) AS rk
       FROM e)
       SELECT event_type, tus AS time_us, user_id, value AS top_v,
              CAST(rk AS BIGINT) AS rk
       FROM r WHERE rk <= 3 ORDER BY event_type, rk""".replaceAll("\\s+", " ")

  // --------------------------------------------- wire-format round-trips
  //
  // The two ingest FORMAT surfaces (line protocol, Prometheus exposition)
  // are serialized from `events` on the executors, parsed back by the real
  // distributed parsers, and the recovered points are oracle-compared to a
  // plain SQL projection of the table — serialize∘parse must be identity,
  // byte-level escaping included. Doubles survive exactly: Java
  // double→string→double is lossless, so no rounding is needed.

  /** q_lineprotocol_roundtrip: events → Sinks.toLineProtocol →
    * LineProtocol.parse → recovered columns (sources/LineProtocol.scala;
    * reference line-protocol write path task_master.go:792-822). */
  def lineProtocolRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Graft.events(s, dir)
    val lines = ev.select(graft.sources.Sinks.toLineProtocol(
        lit("events"),
        Seq("etype" -> col("event_type"),
          "eid" -> col("event_id").cast("string"),
          "uid" -> col("user_id").cast("string")),
        Seq("value" -> col("value").cast("string")),
        col("ts_ns")).as("line")).as[String]
    graft.sources.LineProtocol.parse(lines).toDF()
      .select(
        element_at(col("tags"), "eid").cast("long").as("event_id"),
        element_at(col("tags"), "uid").cast("long").as("user_id"),
        element_at(col("tags"), "etype").as("event_type"),
        element_at(col("fieldsFloat"), "value").as("value"),
        expr("timeNs DIV 1000").as("time_us"))
      .orderBy("event_id")
  }
  val lineProtocolRoundtripSql: String =
    """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS time_us
       FROM events ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_udf_pipe: the out-of-process UDF bridge inside the correctness
    * gate — events serialize to line protocol, pipe through a REAL child
    * process per partition (`sed` rewriting the measurement, the
    * reference @udf agent shape, udf.go:33-411), and parse back; the
    * oracle restates the child's rewrite in SQL. Proves the
    * spawn/feed/drain machinery end-to-end, not just in specs. */
  def udfPipeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Graft.events(s, dir)
    val lines = ev.select(graft.sources.Sinks.toLineProtocol(
        lit("events"),
        Seq("eid" -> col("event_id").cast("string")),
        Seq("value" -> col("value").cast("string")),
        col("ts_ns")).as("line")).as[String]
    val piped = graft.sources.ProcessUdf.pipeLines(
      lines, Seq("sed", "s/^events,/scaled,/"))
    graft.sources.LineProtocol.parse(piped).toDF()
      .select(
        element_at(col("tags"), "eid").cast("long").as("event_id"),
        col("measurement"),
        element_at(col("fieldsFloat"), "value").as("value"))
      .orderBy("event_id")
  }
  val udfPipeSql: String =
    """SELECT event_id, 'scaled' AS measurement, value
       FROM events ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_udf_proto: events → agent.Point stream → a REAL protobuf agent
    * child (graft.tools.ScaleAgent spawned `java -cp`, speaking the
    * varint-framed udf.proto wire — sources/UdfProto + sources/UdfAgent;
    * reference udf/server.go + udf/agent/agent.go) → back. The oracle is
    * the agent's arithmetic restated: the whole handshake + Point
    * round-trip machinery runs inside the correctness gate, like
    * q_udf_pipe does for the line-protocol bridge. */
  def udfProtoQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Graft.events(s, dir)
    val in = ev.select(
        col("ts_ns").as("time"), lit("events").as("name"),
        lit("").as("database"), lit("").as("retentionPolicy"),
        lit("").as("group"), array().cast("array<string>").as("dimensions"),
        map(lit("eid"), col("event_id").cast("string")).as("tags"),
        map(lit("value"), col("value")).as("fieldsDouble"),
        map().cast("map<string,bigint>").as("fieldsInt"),
        map().cast("map<string,string>").as("fieldsString"),
        map().cast("map<string,boolean>").as("fieldsBool"),
        lit(false).as("byName"))
      .as[graft.sources.UdfProto.ProtoPoint]
    val cp = sys.props("java.class.path")
    // One agent child per partition; derive the fan-out from the session's
    // cores (¼ of them: each child is its own JVM with writer/reader
    // threads) instead of a fixed 4, so per-child stream volume shrinks as
    // cores grow — and the driver's lower-core scaling runs keep a
    // proportional child count. Point-independent transform: partitioning
    // cannot change the output rows.
    val agents = math.max(4, s.sparkContext.defaultParallelism / 4)
    graft.sources.UdfProto.pipePoints(
        in.coalesce(agents),
        graft.sources.UdfProto.Agent.Process(
          Seq("java", "-cp", cp, "graft.tools.ScaleAgent")),
        options = Seq("factor" -> Seq(graft.sources.UdfProto.OptDouble(2.5))))
      .toDF()
      .select(element_at(col("tags"), "eid").cast("long").as("event_id"),
        element_at(col("fieldsDouble"), "value").as("value"),
        col("time").as("time_ns"))
      .orderBy("event_id")
  }
  val udfProtoSql: String =
    """SELECT event_id, value * 2.5 AS value, epoch_ns(ts) AS time_ns
       FROM events ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_udf_proto_batch: the BATCH-edge agent protocol inside the
    * correctness gate — events group into bounded batches keyed by
    * (user_id % 8, hour bucket), each batch streams to a REAL batch
    * agent child (graft.tools.BatchStatsAgent via `java -cp`) as
    * BeginBatch/Point/EndBatch frames (reference
    * udf/server.go:445-519 writeBufferedBatch + 674-760 batch
    * reassembly), and the agent's derived batches explode back to rows.
    * The oracle restates the agent's per-batch stats (count + max — both
    * order-exact) as window functions over the same keys. Batches are
    * bounded by construction (one group-hour), so collect_list stays a
    * windowed buffer, not an unbounded group. */
  def udfProtoBatchQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Graft.events(s, dir)
    val batches = ev
      .select(
        (col("user_id") % 8).cast("long").as("g"),
        expr("ts_ns DIV 3600000000000").as("hb"),
        col("ts_ns"), col("event_id"), col("value"))
      .groupBy("g", "hb")
      .agg(
        collect_list(struct(col("ts_ns"), col("event_id"), col("value"))).as("pts"),
        max("ts_ns").as("tmax"))
      .as[(Long, Long, Seq[(Long, Long, Double)], Long)]
      .map { case (g, hb, pts, tmax) =>
        graft.sources.UdfProto.ProtoBatch(
          name = "events", group = s"g=$g,hb=$hb",
          tags = Map("g" -> g.toString, "hb" -> hb.toString),
          byName = false, tmax = tmax,
          points = pts.map { case (ts, eid, v) =>
            graft.sources.UdfProto.ProtoPoint(
              ts, "", "", "", s"g=$g,hb=$hb", Nil,
              Map("eid" -> eid.toString), Map("value" -> v),
              Map.empty, Map.empty, Map.empty, byName = false)
          })
      }
    val cp = sys.props("java.class.path")
    // same core-derived agent fan-out as q_udf_proto; batches are whole
    // rows, so re-partitioning cannot split or reorder a batch
    val agents = math.max(4, s.sparkContext.defaultParallelism / 4)
    graft.sources.UdfProto.pipeBatches(
        batches.coalesce(agents),
        graft.sources.UdfProto.Agent.Process(
          Seq("java", "-cp", cp, "graft.tools.BatchStatsAgent")),
        options = Seq("field" -> Seq(graft.sources.UdfProto.OptString("value"))))
      .flatMap(b => b.points.map(p => (
        p.tags("eid").toLong, p.fieldsDouble("value"),
        p.fieldsDouble("vmax"), p.fieldsInt("batch_n"))))
      .toDF("event_id", "value", "vmax", "batch_n")
      .orderBy("event_id")
  }
  val udfProtoBatchSql: String =
    """SELECT event_id, value,
              MAX(value) OVER w AS vmax,
              COUNT(*) OVER w AS batch_n
       FROM events
       WINDOW w AS (PARTITION BY user_id % 8, epoch_ns(ts) // 3600000000000)
       ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_prom_roundtrip: events → exposition text → PrometheusScrape.parse →
    * toPointFrame (sources/PrometheusScrape.scala; reference
    * services/scraper/service.go:184-240 Append transform, job decode
    * config.go:121-134). */
  def promRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Graft.events(s, dir)
    val lines = ev.select(format_string(
      "cpu_load{job=\"mydb|autogen|scrape1\",instance=\"h%d\",etype=\"%s\",eid=\"%d\"} %s %d",
      col("user_id") % 16, col("event_type"), col("event_id"),
      col("value").cast("string"), expr("ts_ns DIV 1000000")).as("line")).as[String]
    graft.sources.PrometheusScrape.toPointFrame(
        graft.sources.PrometheusScrape.parse(lines))
      .select(
        element_at(col("tags"), "eid").cast("long").as("event_id"),
        col("measurement"), col("db"), col("rp"), col("job"),
        element_at(col("tags"), "instance").as("instance"),
        element_at(col("tags"), "etype").as("event_type"),
        col("value"), col("time_ms"))
      .orderBy("event_id")
  }
  val promRoundtripSql: String =
    """SELECT event_id, 'cpu_load' AS measurement, 'mydb' AS db,
              'autogen' AS rp, 'scrape1' AS job,
              'h' || CAST(user_id % 16 AS VARCHAR) AS instance,
              event_type, value, epoch_us(ts) // 1000 AS time_ms
       FROM events ORDER BY event_id""".replaceAll("\\s+", " ")

  /** q_scrape_schedule: the scrape LOOP as schedule-as-data
    * (sources/ScrapeScheduler.schedule; reference services/scraper/
    * service.go:246-320 + config.go:33 scrape-interval): targets derived
    * from `nation`, one row per (target, tick) over [0, 3600) with the
    * h60(url)-mod-interval phase stagger. The oracle restates the grid
    * with generate-range + the md5-prefix hash — the whole scheduling
    * loop is verifiable arithmetic, leaving only the HTTP GET as I/O. */
  def scrapeScheduleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = graft.Graft.table(s, dir, "nation")
    val targets = nation.select(
        col("n_name").as("job"),
        concat(lit("http://"), col("n_name"), lit(":9100/metrics")).as("url"),
        lit("mydb").as("db"), lit("autogen").as("rp"),
        (lit(30L) + (col("n_nationkey") % 4).cast("long") * 30L).as("intervalS"),
        lit(true).as("enabled"),
        map().cast("map<string,string>").as("labels"))
      .as[graft.sources.ScrapeScheduler.ScrapeTarget]
    graft.sources.ScrapeScheduler.schedule(targets, 0L, 3600L)
      .select(col("job"), col("url"), col("intervalS").as("interval_s"),
        col("tick_s"))
      .orderBy("job", "tick_s")
  }
  val scrapeScheduleSql: String =
    """WITH t AS (
       SELECT n_name AS job,
              'http://' || n_name || ':9100/metrics' AS url,
              CAST(30 + (n_nationkey % 4) * 30 AS BIGINT) AS interval_s
       FROM nation),
       ph AS (
       SELECT job, url, interval_s,
              ('0x' || substr(md5(url), 1, 15))::BIGINT % interval_s AS phase
       FROM t)
       SELECT job, url, interval_s,
              CAST(unnest(range(phase, 3600, interval_s)) AS BIGINT) AS tick_s
       FROM ph ORDER BY job, tick_s""".replaceAll("\\s+", " ")

  /** q_scrape_run: the scrape loop END-TO-END inside the oracle gate —
    * schedule grid (ScrapeScheduler.schedule, phase-staggered ticks) →
    * injectable fetch seam producing deterministic exposition text →
    * PrometheusScrape parse/decode (runScrapes: target labels overlay
    * beneath sample labels, job encoded db|rp|name and decoded back,
    * explicit sample timestamps win while timestamp-less samples default
    * to the TICK time — the scrape loop stamping wall time,
    * services/scraper/service.go:184-240). q_scrape_schedule checks the
    * grid alone; this entry pins the whole composition. */
  def scrapeRunQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = graft.Graft.table(s, dir, "nation")
    val targets = nation.select(
        col("n_name").as("job"),
        concat(lit("http://"), col("n_name"), lit(":9100/metrics")).as("url"),
        lit("db").as("db"), lit("rp").as("rp"),
        (lit(60L) + (col("n_nationkey") % 3).cast("long") * 60L).as("intervalS"),
        lit(true).as("enabled"),
        map(lit("dc"),
          concat(lit("dc"), (col("n_nationkey") % 4).cast("string"))).as("labels"))
      .as[graft.sources.ScrapeScheduler.ScrapeTarget]
    val sched = graft.sources.ScrapeScheduler.schedule(targets, 0L, 1800L)
    val fetch = (url: String, tick: Long) => {
      val host = url.stripPrefix("http://").takeWhile(_ != ':')
      Seq(
        // explicit ms timestamp ≠ tick: explicit must win
        s"""node_up{instance="$host"} 1 ${(tick + 1) * 1000}""",
        // no timestamp: defaults to the tick time
        s"""node_load{instance="$host"} ${(host.length + tick % 7).toDouble}""")
    }
    graft.sources.ScrapeScheduler.runScrapes(sched, fetch)
      .select(col("measurement"), col("job"), col("db"), col("rp"),
        element_at(col("tags"), "instance").as("instance"),
        element_at(col("tags"), "dc").as("dc"),
        col("value"), col("time_ms"))
      .orderBy("measurement", "instance", "time_ms")
  }
  val scrapeRunSql: String =
    """WITH t AS (
       SELECT n_name AS job, n_name AS host,
              'http://' || n_name || ':9100/metrics' AS url,
              CAST(60 + (n_nationkey % 3) * 60 AS BIGINT) AS interval_s,
              'dc' || CAST(n_nationkey % 4 AS VARCHAR) AS dc
       FROM nation),
       ph AS (SELECT *, ('0x' || substr(md5(url), 1, 15))::BIGINT % interval_s AS phase FROM t),
       g AS (SELECT job, host, dc,
                    CAST(unnest(range(phase, 1800, interval_s)) AS BIGINT) AS tick_s
             FROM ph)
       SELECT 'node_up' AS measurement, job, 'db' AS db, 'rp' AS rp,
              host AS instance, dc, 1.0::DOUBLE AS value,
              (tick_s + 1) * 1000 AS time_ms FROM g
       UNION ALL
       SELECT 'node_load', job, 'db', 'rp', host, dc,
              CAST(length(host) + tick_s % 7 AS DOUBLE), tick_s * 1000 FROM g
       ORDER BY measurement, instance, time_ms""".replaceAll("\\s+", " ")

  // ---------------------------------------------------------- autoscale

  /** q_autoscale: the autoscale FSM (streaming/AutoscaleStream, reference
    * autoscale.go:181-283) over per-(resource, 10-minute) peak load from
    * `events` — the reference's documented stats→autoscale composition.
    * Desired replicas = ceil(peak/40) clamped to [1,12]; 30-min increase /
    * 60-min decrease cooldowns; every resource starts at 1 replica. The
    * oracle restates the per-resource fold as a DuckDB recursive CTE
    * stepping point-by-point, including the commit-only-on-success
    * cooldown semantics — `max` (not `avg`) keeps the stat bit-exact
    * across engines so the ceil boundary cannot flip. */
  def autoscaleQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = graft.Graft.events(s, dir)
      .select(concat(lit("r"), (col("user_id") % 4).cast("string")).as("resource"),
        expr("ts_ns DIV 600000000000").as("m"), col("value"))
      .groupBy("resource", "m").agg(max("value").as("v"))
      .select(col("resource"), (col("m") * 600000000L).as("timeUs"),
        col("v").as("value"))
      .as[graft.streaming.AutoscaleStream.AutoscalePoint]
    val cfg = graft.streaming.AutoscaleStream.AutoscaleConfig(
      min = 1, max = 12,
      increaseCooldownUs = 1800L * 1000000,
      decreaseCooldownUs = 3600L * 1000000,
      replicas = (v, _) => math.ceil(v / 40.0).toLong,
      initialReplicas = _ => 1L)
    graft.streaming.AutoscaleStream.runBatch(pts, cfg)
      .toDF("resource", "time_us", "old_replicas", "new_replicas")
      .orderBy("resource", "time_us")
  }
  val autoscaleSql: String =
    """WITH RECURSIVE base AS MATERIALIZED (
       SELECT 'r' || CAST(user_id % 4 AS VARCHAR) AS resource,
              epoch_us(ts) // 600000000 AS m,
              max(value) AS v
       FROM events GROUP BY 1, 2),
       pts AS MATERIALIZED (
       SELECT resource, m * 600000000 AS t_us,
              CAST(row_number() OVER (PARTITION BY resource ORDER BY m) AS BIGINT) AS idx,
              least(greatest(CAST(ceil(v / 40.0) AS BIGINT), 1), 12) AS want
       FROM base),
       fsm(resource, idx, cur, last_inc, last_dec, emit, old_replicas, new_replicas, t_us) AS (
       SELECT resource, CAST(0 AS BIGINT), CAST(1 AS BIGINT),
              CAST(-4611686018427387904 AS BIGINT), CAST(-4611686018427387904 AS BIGINT),
              false, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       FROM (SELECT DISTINCT resource FROM pts)
       UNION ALL
       SELECT resource, idx,
              CASE WHEN ok THEN want ELSE cur END,
              CASE WHEN ok AND want > cur THEN t_us ELSE last_inc END,
              CASE WHEN ok AND want < cur THEN t_us ELSE last_dec END,
              ok, cur, want, t_us
       FROM (
         SELECT p.resource, p.idx, f.cur, f.last_inc, f.last_dec, p.want, p.t_us,
                (p.want != f.cur AND CASE WHEN p.want > f.cur
                   THEN p.t_us >= f.last_inc + 1800000000
                   ELSE p.t_us >= f.last_dec + 3600000000 END) AS ok
         FROM fsm f JOIN pts p ON p.resource = f.resource AND p.idx = f.idx + 1) z)
       SELECT resource, t_us AS time_us, old_replicas, new_replicas
       FROM fsm WHERE emit ORDER BY resource, time_us""".replaceAll("\\s+", " ")

  // ------------------------------------------- aggregate topic handler

  /** q_alert_aggregate: the AGGREGATE topic handler
    * (services/alert/handlers.go:199-308) over click alert events —
    * 15-minute interval buckets fold to ONE synthetic event each:
    * count-templated message, max level/time/duration, member messages
    * newline-joined in time order as the details, recoverable pinned
    * false. The oracle restates the fold bucket-by-bucket. */
  def alertAggregateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = pipe(s, dir).df.filter(col("event_type") === "click")
      .select(
        unix_micros(col("time")).as("time_us"),
        when(col("value") > 90, 3).when(col("value") > 70, 2)
          .when(col("value") > 50, 1).otherwise(0).as("level"),
        floor(col("value") * 1000).cast("long").as("duration_us"),
        concat(lit("u"), col("user_id"), lit(" v="),
          floor(col("value")).cast("long")).as("message"))
    graft.streaming.AlertTopics.aggregateEvents(ev,
        intervalUs = 900000000L, aggId = "agg-click", outTopic = "aggregated")
      .orderBy("time_us")
  }
  val alertAggregateSql: String =
    s"""$preludeSql,
       ev AS (SELECT tus,
              CASE WHEN value > 90 THEN 3 WHEN value > 70 THEN 2
                   WHEN value > 50 THEN 1 ELSE 0 END AS lvl,
              CAST(floor(value * 1000) AS BIGINT) AS dur,
              'u' || CAST(user_id AS VARCHAR) || ' v=' ||
                CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS msg
              FROM e WHERE event_type = 'click'),
       b AS (SELECT CAST(floor(tus / 900000000.0) AS BIGINT) AS bkt,
              count(*) AS n, max(lvl) AS level, max(tus) AS time_us,
              max(dur) AS duration_us,
              string_agg(msg, chr(10) ORDER BY tus, msg) AS details
              FROM ev GROUP BY 1)
       SELECT 'aggregated' AS topic, 'agg-click' AS id, time_us, level,
              duration_us,
              'Received ' || CAST(n AS VARCHAR) ||
                ' events in the last 15m0s.' AS message,
              details, FALSE AS recoverable
       FROM b ORDER BY time_us""".replaceAll("\\s+", " ")

  /** q_alert_publish: the PUBLISH topic handler
    * (services/alert/handlers.go:312-334) — every source event
    * republished to each configured topic. */
  def alertPublishQ(s: SparkSession, dir: String): DataFrame = {
    val ev = pipe(s, dir).df.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("time")).as("time_us"),
        lit("purchases").as("topic"))
    graft.streaming.AlertTopics.publishEvents(ev, Seq("audit", "ops", "pages"))
      .orderBy("event_id", "topic")
  }
  val alertPublishSql: String =
    s"""$preludeSql,
       ev AS (SELECT event_id, tus AS time_us FROM e WHERE event_type = 'purchase')
       SELECT event_id, time_us, t.topic
       FROM ev CROSS JOIN (VALUES ('audit'), ('ops'), ('pages')) t(topic)
       ORDER BY event_id, topic""".replaceAll("\\s+", " ")

  // ------------------------------------------- stats service emission

  /** q_stats_emit: the stats service's ticker rendered over history
    * (services/stats/service.go:104-136 + server/vars/stats.go): per-task
    * ingest counters (`collected`, `total`) observed at every point time,
    * snapshotted at each 6-hour tick as one point-field per statistic —
    * latest-at-or-before-fire as-of fill, skip-before-first-observation,
    * cluster/server/host ID-tag overlay, plus the global `kapacitor`
    * uptime field. The oracle restates each tick's counter as a closed-
    * form aggregate up to the tick. */
  def statsEmitQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.StatsEmit
    import org.apache.spark.sql.expressions.Window
    val iv = 21600000000L // 6h in µs
    val ids = Map("cluster_id" -> "c1", "server_id" -> "s1",
      "host" -> "localhost")
    val base = pipe(s, dir).df.withColumn("time_us", unix_micros(col("time")))
    val perT = base.groupBy(col("event_type").as("task"), col("time_us"))
      .agg(count(lit(1)).as("dc"),
        sum(floor(col("value")).cast("long")).as("dv"))
    val w = Window.partitionBy("task").orderBy("time_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counters = perT.select(col("task"), col("time_us"),
      sum("dc").over(w).cast("double").as("collected"),
      sum("dv").over(w).cast("double").as("total"))
    val obs = counters.select(col("time_us"), lit("ingest").as("name"),
        col("task"),
        explode(map(lit("collected"), col("collected"),
          lit("total"), col("total"))).as(Seq("field", "value")))
    val bounds = base.agg(min("time_us").as("mn"), max("time_us").as("mx"))
    // The registry stated from the cheap branch: obs's key set is exactly
    // {ingest} × distinct(event_type) × {collected, total} by construction
    // (the melt emits both fields for every counter row), so deriving it
    // from a one-column distinct over the RAW scan instead of obs skips a
    // second run of the groupBy→window→explode tail (statsPoints keysOpt).
    val keys = base.select(col("event_type").as("task")).distinct()
      .crossJoin(
        s.range(1).select(explode(array(lit("collected"), lit("total"))).as("field")))
      .select(lit("ingest").as("name"), col("task"), col("field"))
    val pts = StatsEmit.statsPoints(obs, Seq("name", "task", "field"),
      StatsEmit.tickGrid(bounds, iv), idTags = ids, keysOpt = Some(keys))
    // '' = the untagged global entry (NULL would sort differently in the
    // two engines' ORDER BY)
    val up = StatsEmit.uptimePoints(bounds, iv, idTags = ids)
      .withColumn("task", lit(""))
    pts.unionByName(up.select(pts.columns.map(col): _*))
      .orderBy("name", "task", "field", "time_us")
  }
  val statsEmitSql: String = {
    val iv = 21600000000L
    s"""$preludeSql,
       st AS (SELECT min(tus) AS mn, max(tus) AS mx FROM e),
       grid AS (SELECT unnest(generate_series(
                  (CAST(floor(mn / $iv.0) AS BIGINT) + 1) * $iv, mx, $iv)) AS fire
                FROM st),
       pts AS (SELECT g.fire, e.event_type AS task, count(*) AS collected,
                      sum(CAST(floor(value) AS BIGINT)) AS total
               FROM grid g JOIN e ON e.tus <= g.fire GROUP BY 1, 2),
       melted AS (
         SELECT fire, 'ingest' AS name, task, f.field,
                CAST(CASE f.field WHEN 'collected' THEN collected
                     ELSE total END AS DOUBLE) AS value
         FROM pts CROSS JOIN (VALUES ('collected'), ('total')) f(field)
         UNION ALL
         SELECT fire, 'kapacitor' AS name, '' AS task,
                'uptime' AS field, (fire - mn) / 1000000.0 AS value
         FROM grid, st)
       SELECT fire AS time_us, '_kapacitor' AS db, 'autogen' AS rp,
              name, task, field, 'c1' AS cluster_id, 'localhost' AS host,
              's1' AS server_id, value
       FROM melted ORDER BY name, task, field, time_us""".replaceAll("\\s+", " ")
  }
}
