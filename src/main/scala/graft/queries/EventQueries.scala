package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** Events analytics: window functions, sessionization, as-of and
  * interval joins, anomalies, salted joins, pivots, funnels, SCD2 history,
  * CUBE grouping sets, cohort retention, transitions and drift. */
object EventQueries {

  /** Per-user activity profile via window functions (lag gaps). */
  private def qUserWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    eventsBase(s, dir)
      .withColumn("gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"),
        coalesce(max("gap_ms"), lit(0L)).as("max_gap_ms"),
        msum(col("value")).as("sum_value_micros"))
      .orderBy("user_id")
  }

  private val qUserWindowsSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
       |  FROM events),
       |g AS (
       |  SELECT *, ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id) AS gap_ms
       |  FROM ev)
       |SELECT user_id, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types,
       |  MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms,
       |  COALESCE(MAX(gap_ms), 0) AS max_gap_ms,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** 30-minute-gap sessionization via cumulative window sum. */
  private def qSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val sess = eventsBase(s, dir)
      .withColumn("gap_ms", col("ts_ms") - lag("ts_ms", 1).over(w))
      .withColumn("new_session",
        when(col("gap_ms").isNull || col("gap_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("session_events"), msum(col("value")).as("v"))
      .groupBy("user_id")
      .agg(max("session_idx").as("n_sessions"),
        max("session_events").as("max_session_events"),
        sum("v").as("sum_value_micros"))
      .orderBy("user_id")
  }

  private val qSessionsSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events),
       |g AS (
       |  SELECT *, ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id) AS gap_ms
       |  FROM ev),
       |flagged AS (
       |  SELECT *, CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END AS new_session
       |  FROM g),
       |sessioned AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
       |    ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM flagged),
       |per_session AS (
       |  SELECT user_id, session_idx, COUNT(*) AS session_events,
       |    ${msumSql("value")} AS v
       |  FROM sessioned GROUP BY user_id, session_idx)
       |SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS n_sessions,
       |  MAX(session_events) AS max_session_events,
       |  CAST(SUM(v) AS BIGINT) AS sum_value_micros
       |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join (operators/AsOfJoin): every click event annotated with the
    * value of the user's most recent purchase at-or-before the click.
    * DuckDB's native ASOF JOIN is the oracle. */
  private def qAsofLastPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsBase(s, dir)
      .withColumn("vm", floor(col("value") * 1000000).cast("long"))
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "event_id", "ts_ms")
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms").agg(max("vm").as("purchase_micros"))
    operators.AsOfJoin.asOf(clicks, purchases, Seq("user_id"),
        "ts_ms", "ts_ms", Seq("purchase_micros"))
      .orderBy("event_id")
  }

  private val qAsofLastPurchaseSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
       |         CAST(floor(value * 1000000) AS BIGINT) AS vm
       |  FROM events),
       |clicks AS (SELECT user_id, event_id, ts_ms FROM ev WHERE event_type = 'click'),
       |purch AS (SELECT user_id, ts_ms, MAX(vm) AS purchase_micros
       |          FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
       |SELECT c.user_id, c.event_id, c.ts_ms, p.purchase_micros
       |FROM clicks c ASOF LEFT JOIN purch p
       |  ON c.user_id = p.user_id AND p.ts_ms <= c.ts_ms
       |ORDER BY c.event_id""".stripMargin

  /** Native bounded-heap top-k aggregate (functions/LongTopK,
    * TypedImperativeAggregate): top-5 event values per type without a
    * per-group sort — O(k) state per group vs the window form's full
    * group sort. Multiset semantics make it exactly reproducible by the
    * SQL window oracle. */
  private def qTopkEventValues(s: SparkSession, dir: String): DataFrame =
    eventsBase(s, dir)
      .withColumn("vm", floor(col("value") * 1000000).cast("long"))
      .groupBy("event_type")
      .agg(call_function("graft_topk", col("vm"), lit(5)).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
        col("col").as("value_micros"))
      .orderBy("event_type", "rk")

  private val qTopkEventValuesSql =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events),
       |r AS (
       |  SELECT event_type, vm,
       |    row_number() OVER (PARTITION BY event_type ORDER BY vm DESC) AS rn
       |  FROM ev)
       |SELECT event_type, rn AS rk, vm AS value_micros
       |FROM r WHERE rn <= 5 ORDER BY event_type, rk""".stripMargin

  /** Pivot: per-user event counts spread into one column per event type
    * (explicit value list, so the schema is static and plan-deterministic;
    * an implicit pivot would add a distinct-values job). */
  private def qUserEventPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    eventsBase(s, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .count()
      .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  private val qUserEventPivotSql =
    s"""SELECT user_id,
       | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Per-event-type fleet stats. */
  private def qEventTypeStats(s: SparkSession, dir: String): DataFrame =
    eventsBase(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        msum(col("value")).as("sum_value_micros"),
        mavg(col("value")).as("avg_value_micros"))
      .orderBy("event_type")

  private val qEventTypeStatsSql =
    s"""SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       | ${msumSql("value")} AS sum_value_micros,
       | ${mavgSql("value")} AS avg_value_micros
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Daily-total anomaly flags per event type (operators.Anomaly): the
    * monitoring query over the event stream, z = 2.0, decided by exact
    * cross-multiplied DECIMAL(38,0) algebra — the oracle re-derives the
    * identical test in HUGEINT, no float sqrt on either side. One fact
    * aggregate to (type, day) totals; the stats window runs over the
    * compact daily relation. */
  private def qDailyAnomalies(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsBase(s, dir)
      .withColumn("day", expr("ts_ms div 86400000"))
      .withColumn("vm", floor(col("value") * 1000000).cast("long"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"), sum("vm").as("total_micros"))
    operators.Anomaly.flagOutliers(daily, Seq("event_type"),
        "total_micros", sigmaX10 = 20)
      .orderBy("event_type", "day")
  }

  private val qDailyAnomaliesSql =
    s"""WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
       |    CAST(floor(value * 1000000) AS BIGINT) AS vm FROM events),
       |d AS (SELECT event_type, day, COUNT(*) AS n_events,
       |    CAST(SUM(vm) AS BIGINT) AS total_micros FROM ev GROUP BY 1, 2),
       |st AS (SELECT *,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) AS m,
       |    CAST(SUM(total_micros) OVER (PARTITION BY event_type) AS HUGEINT) AS s,
       |    SUM(CAST(total_micros AS HUGEINT) * total_micros)
       |      OVER (PARTITION BY event_type) AS q
       |  FROM d)
       |SELECT event_type, CAST(day AS BIGINT) AS day, n_events, total_micros,
       |  CAST(CASE WHEN 100 * (m * total_micros - s) * (m * total_micros - s)
       |            > 400 * (m * q - s * s) THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_anomaly
       |FROM st ORDER BY event_type, day""".stripMargin

  /** Skew-guarded dimension join through [[operators.SaltedJoin]]: events
    * is the canonical hot-key fact (5 event_type values, each carrying
    * ~20% of all rows — a plain hash join funnels each fifth of the table
    * into ONE task), joined to a small per-type weight dimension with
    * explicit salting, then rolled up per type. The salted result is
    * row-for-row identical to the plain inner join — which is exactly what
    * the DuckDB oracle runs — so this gates the salting's exactly-once
    * fact-dim pairing the same way every other operator is gated. */
  private def qSaltedEventsJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsBase(s, dir)
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")).cast("long"))
    operators.SaltedJoin.innerSalted(ev, dim, "event_type", saltFactor = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000000).cast("long") * col("w"))
          .as("weighted_micros"))
      .orderBy("event_type")
  }

  private val qSaltedEventsJoinSql =
    s"""WITH dim AS (
       |  SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS w
       |  FROM events)
       |SELECT e.event_type, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(FLOOR(e.value * 1000000) AS BIGINT) * d.w) AS BIGINT)
       |    AS weighted_micros
       |FROM events e JOIN dim d USING (event_type)
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** JSON scalar extraction from the semi-structured props column. */
  private def qPropsJson(s: SparkSession, dir: String): DataFrame =
    eventsBase2(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        floor(sum("k") / count(lit(1))).cast("long").as("avg_k_floor"))
      .orderBy("event_type")

  private def eventsBase2(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.events(s, dir).select("event_type", "props")
  }

  private val qPropsJsonSql =
    s"""SELECT event_type, COUNT(*) AS n,
       | CAST(SUM(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       | CAST(FLOOR(SUM(CAST(json_extract(props, '$$.k') AS BIGINT)) / COUNT(*)) AS BIGINT) AS avg_k_floor
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Incremental aggregate maintenance (operators.IncrementalAgg): the
    * standing per-(event_type, user_id) rollup is built from an 80%
    * "history" slice, then REFRESHED with the remaining 20% delta —
    * delta-sized work instead of a history recompute. The oracle is the
    * FULL recompute over all events: hash-equality here is the
    * maintenance invariant itself, merge(agg(A), agg(B)) == agg(A u B),
    * exact because every state component is algebraic integer
    * arithmetic (decimal-sum micros, floored-micros extremes). */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    val keys = Seq("event_type", "user_id")
    val base = operators.IncrementalAgg.aggregate(
      ev.where(col("event_id") % 10 < 8), keys, "value")
    operators.IncrementalAgg.refresh(base,
        ev.where(col("event_id") % 10 >= 8), keys, "value")
      .orderBy("event_type", "user_id")
  }

  private val qIncrementalAggSql =
    s"""SELECT event_type, user_id, COUNT(*) AS n,
       |  ${msumSql("value")} AS sum_micros,
       |  MIN(CAST(floor(value * 1000000.0) AS BIGINT)) AS min_micros,
       |  MAX(CAST(floor(value * 1000000.0) AS BIGINT)) AS max_micros
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Click→purchase attribution pairs within a 2-hour band, via the
    * bucketed interval join (`operators/IntervalJoin`) — the shape that
    * stays an equi-join at power-law key scale. The oracle is the naive
    * BETWEEN range join, so the bucketing must be pair-for-pair exact. */
  private def qIntervalPairs(s: SparkSession, dir: String): DataFrame = {
    val e = eventsBase(s, dir)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ms"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ms").as("purchase_ms"))
    operators.IntervalJoin.within(clicks, purchases, "user_id",
        "click_ms", "purchase_ms", 7200000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_ms") - col("click_ms")).as("delta_ms"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  private val qIntervalPairsSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |  epoch_ms(ts) AS ts_ms FROM events),
       |c AS (SELECT user_id, event_id AS click_id, ts_ms AS click_ms
       |      FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id AS purchase_id, ts_ms AS purchase_ms
       |      FROM e WHERE event_type = 'purchase')
       |SELECT c.user_id AS user_id, click_id, purchase_id,
       |       purchase_ms - click_ms AS delta_ms
       |FROM c JOIN p ON c.user_id = p.user_id
       |  AND p.purchase_ms BETWEEN c.click_ms - 7200000 AND c.click_ms + 7200000
       |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** Two-sided view-to-purchase attribution — the BATCH run of the
    * left-outer streaming join (`streaming/StreamingJoin.attributedOrNull`,
    * watermarks optimized away on batch inputs by
    * EliminateEventTimeWatermark): every (view, purchase) pair of the
    * same user with the purchase inside `[view_ts, view_ts + 1h]`
    * (both bounds inclusive — the operator and the oracle agree on
    * `purchase_ts >= view_ts`), plus
    * ONE null-attributed row per view with no in-window purchase. This
    * puts the null-emission arithmetic — previously gated only by
    * StreamingSpec's replay equivalence — under the DuckDB hash gate
    * like every other operator: on a complete replay the streaming
    * expiry-driven nulls must equal exactly this batch left outer. */
  private def qAttributionOuter(s: SparkSession, dir: String): DataFrame = {
    val e = eventsRaw(s, dir)
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
    streaming.StreamingJoin.attributedOrNull(views, purchases, "1 hour")
      .select(col("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        floor(col("value") * lit(1000000.0)).cast("long").as("value_micros"))
      .orderBy("user_id", "view_us", "purchase_us")
  }

  private val qAttributionOuterSql =
    s"""WITH v AS (SELECT user_id, ts AS view_ts FROM events
       |           WHERE event_type = 'view'),
       |p AS (SELECT user_id, ts AS purchase_ts, value FROM events
       |      WHERE event_type = 'purchase')
       |SELECT v.user_id, epoch_us(v.view_ts) AS view_us,
       |  epoch_us(p.purchase_ts) AS purchase_us,
       |  CAST(floor(p.value * 1000000.0) AS BIGINT) AS value_micros
       |FROM v LEFT JOIN p ON p.user_id = v.user_id
       |  AND p.purchase_ts >= v.view_ts
       |  AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
       |ORDER BY v.user_id, view_us, purchase_us""".stripMargin

  /** Three-step earliest-completion funnel (view -> click -> purchase,
    * 7-day conversion window from the first view). Comparisons run on raw
    * micros for exact strict-ordering; output floors to epoch millis like
    * every other event query. One exchange total (stacked same-key window
    * layers — see `operators.Funnel`). */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select(
      col("user_id"), col("event_type"), col("ts_us"))
    operators.Funnel.earliestCompletion(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), Some(7L * 24 * 3600 * 1000000L))
      .select(col("user_id"),
        expr("t1 div 1000").as("t1_ms"),
        expr("t2 div 1000").as("t2_ms"),
        expr("t3 div 1000").as("t3_ms"),
        col("depth").cast("long").as("depth"))
      .orderBy("user_id")
  }

  private val qFunnelSql =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsn FROM events),
       |s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tsn END)
       |         OVER (PARTITION BY user_id) AS t1 FROM ev),
       |s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tsn > t1
       |           AND tsn <= t1 + 604800000000 THEN tsn END)
       |         OVER (PARTITION BY user_id) AS t2 FROM s1),
       |s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tsn > t2
       |           AND tsn <= t1 + 604800000000 THEN tsn END)
       |         OVER (PARTITION BY user_id) AS t3 FROM s2)
       |SELECT DISTINCT user_id, t1 // 1000 AS t1_ms, t2 // 1000 AS t2_ms,
       |  t3 // 1000 AS t3_ms,
       |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
       |       ELSE 1 END AS BIGINT) AS depth
       |FROM s3 WHERE t1 IS NOT NULL ORDER BY user_id""".stripMargin

  /** SCD2 effective-dated state history over the events change log:
    * per-user event_type intervals with consecutive no-ops collapsed.
    * Interval boundaries computed on raw micros, floored to ms on output
    * (see operators.Scd2 — one exchange for the whole operator). */
  private def qScd2Users(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsRaw(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
    operators.Scd2.history(ev, Seq("user_id"), "ts_us", Seq("event_id"),
        Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        expr("valid_from div 1000").as("valid_from_ms"),
        expr("valid_to div 1000").as("valid_to_ms"),
        col("is_current"))
      .orderBy("user_id", "valid_from_ms", "event_type")
  }

  private val qScd2UsersSql =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type
       |  FROM events),
       |lagged AS (SELECT *, lag(event_type) OVER (
       |    PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM ev),
       |dd AS (SELECT * FROM lagged WHERE prev IS NULL OR prev <> event_type),
       |iv AS (SELECT user_id, event_type, tsn AS vf, lead(tsn) OVER (
       |    PARTITION BY user_id ORDER BY tsn, event_id) AS vt FROM dd)
       |SELECT user_id, event_type, vf // 1000 AS valid_from_ms,
       |  vt // 1000 AS valid_to_ms, vt IS NULL AS is_current
       |FROM iv ORDER BY user_id, valid_from_ms, event_type""".stripMargin

  /** CUBE over (event_type, day-of-week): all four grouping sets in one
    * pass. Same scale shape as the ROLLUP gate: the cube runs over the
    * COMPACT per-(type, dow) partial relation, not the raw facts, so the
    * grouping-set Expand multiplies 35 rows, not 100M. Day-of-week is
    * integer epoch arithmetic (1970-01-01 was a Thursday), not a date
    * function — exact on both engines. */
  private def qEventCube(s: SparkSession, dir: String): DataFrame = {
    val partials = eventsBase(s, dir)
      .withColumn("dow", expr("((ts_ms div 86400000) + 4) % 7"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("pn"),
        sum((col("value") * lit(1000000.0)).cast(DecimalType(38, 0))).as("pv"))
    partials
      .cube("event_type", "dow")
      .agg(grouping_id().as("gid"), sum("pn").as("n_events"),
        sum("pv").cast("long").as("sum_value_micros"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("gid").cast("long").as("gid"),
        col("n_events").cast("long").as("n_events"), col("sum_value_micros"))
      .orderBy("event_type", "dow", "gid")
  }

  private val qEventCubeSql =
    s"""WITH ev AS (SELECT event_type,
       |    ((epoch_ms(ts) // 86400000) + 4) % 7 AS dow, value FROM events)
       |SELECT COALESCE(event_type, 'ALL') AS event_type,
       |  COALESCE(dow, -1) AS dow,
       |  CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
       |  COUNT(*) AS n_events,
       |  ${msumSql("value")} AS sum_value_micros
       |FROM ev GROUP BY CUBE(event_type, dow)
       |ORDER BY event_type, dow, gid""".stripMargin

  /** Daily cohort retention matrix: users grouped by first-event day,
    * counted on each later day they made a purchase. Two aggregates +
    * one join, all keyed on user_id (the first-event relation reuses the
    * activity partitioning); integer epoch-day arithmetic. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsBase(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ms div 86400000").as("day"))
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.where(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .distinct()
      .groupBy("cohort_day", "offset_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  private val qRetentionSql =
    s"""WITH ev AS (SELECT user_id, event_type,
       |    epoch_ms(ts) // 86400000 AS day FROM events),
       |first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1),
       |activity AS (SELECT DISTINCT e.user_id, f.cohort_day,
       |    e.day - f.cohort_day AS offset_days
       |  FROM ev e JOIN first f USING (user_id)
       |  WHERE e.event_type = 'purchase')
       |SELECT cohort_day, offset_days, COUNT(*) AS n_users
       |FROM activity GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * consecutive (from, to) pairs by event_id order, counts and exact
    * integer-micros conditional probabilities. One window shuffle. */
  private def qEventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    eventsBase(s, dir)
      .withColumn("from_type", lag("event_type", 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_micros",
        expr("n * 1000000 div sum(n) over (partition by from_type)"))
      .orderBy("from_type", "to_type")
  }

  private val qEventTransitionsSql =
    s"""WITH ev AS (SELECT user_id, event_id, event_type FROM events),
       |seq AS (SELECT event_type AS to_type, lag(event_type) OVER (
       |    PARTITION BY user_id ORDER BY event_id) AS from_type FROM ev),
       |pairs AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
       |  WHERE from_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n,
       |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
       |    AS p_micros
       |FROM pairs ORDER BY from_type, to_type""".stripMargin

  /** Weekly value-distribution drift per event type vs the baseline week
    * (Anomaly.distributionDrift): total-variation distance over width-50
    * value buckets, exact integer micros — the population-stability
    * monitor over the fact table. */
  private def qEventDrift(s: SparkSession, dir: String): DataFrame =
    operators.Anomaly.distributionDrift(
        eventsRaw(s, dir).select(col("event_type"), col("ts_us"), col("value")),
        col("event_type"), expr("ts_us div 604800000000"),
        expr("least(cast(floor(value / 50) as bigint), 9L)"))
      .select(col("grp").as("event_type"), col("period").as("week"),
        col("n_events"), col("tv_micros"))
      .orderBy("event_type", "week")

  private val qEventDriftSql =
    s"""WITH ev AS (SELECT event_type AS grp,
       |    epoch_us(ts) // 604800000000 AS period,
       |    LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS bucket
       |  FROM events),
       |counts AS (SELECT grp, period, bucket, COUNT(*) AS n
       |  FROM ev GROUP BY 1, 2, 3),
       |tot AS (SELECT grp, period, CAST(SUM(n) AS BIGINT) AS tot
       |  FROM counts GROUP BY 1, 2),
       |sh AS (SELECT c.grp, c.period, c.bucket,
       |    CAST(c.n * 1000000 // t.tot AS BIGINT) AS share, t.tot
       |  FROM counts c JOIN tot t ON c.grp = t.grp AND c.period = t.period),
       |bp AS (SELECT grp, MIN(period) AS bp FROM counts GROUP BY grp),
       |base AS (SELECT s.grp, s.bucket, s.share AS base_share
       |  FROM sh s JOIN bp ON s.grp = bp.grp AND s.period = bp.bp),
       |per AS (SELECT DISTINCT grp, period FROM counts),
       |ex AS (SELECT p.grp, p.period, b.bucket, b.base_share
       |  FROM per p JOIN base b ON p.grp = b.grp),
       |f AS (SELECT COALESCE(e.grp, s.grp) AS grp,
       |    COALESCE(e.period, s.period) AS period,
       |    COALESCE(e.base_share, 0) AS base_share,
       |    COALESCE(s.share, 0) AS share, s.tot
       |  FROM ex e FULL OUTER JOIN sh s
       |    ON s.grp = e.grp AND s.period = e.period AND s.bucket = e.bucket)
       |SELECT grp AS event_type, period AS week,
       |  CAST(MAX(tot) AS BIGINT) AS n_events,
       |  CAST(SUM(ABS(share - base_share)) // 2 AS BIGINT) AS tv_micros
       |FROM f GROUP BY grp, period ORDER BY event_type, week""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_user_windows", qUserWindows, qUserWindowsSql),
    QuerySpec("q_asof_last_purchase", qAsofLastPurchase, qAsofLastPurchaseSql),
    QuerySpec("q_sessions", qSessions, qSessionsSql),
    QuerySpec("q_event_type_stats", qEventTypeStats, qEventTypeStatsSql),
    QuerySpec("q_daily_anomalies", qDailyAnomalies, qDailyAnomaliesSql),
    QuerySpec("q_salted_events_join", qSaltedEventsJoin, qSaltedEventsJoinSql),
    QuerySpec("q_user_event_pivot", qUserEventPivot, qUserEventPivotSql),
    QuerySpec("q_topk_event_values", qTopkEventValues, qTopkEventValuesSql),
    QuerySpec("q_props_json", qPropsJson, qPropsJsonSql),
    QuerySpec("q_incremental_agg", qIncrementalAgg, qIncrementalAggSql),
    QuerySpec("q_interval_pairs", qIntervalPairs, qIntervalPairsSql),
    QuerySpec("q_attribution_outer", qAttributionOuter, qAttributionOuterSql),
    QuerySpec("q_funnel", qFunnel, qFunnelSql),
    QuerySpec("q_scd2_users", qScd2Users, qScd2UsersSql),
    QuerySpec("q_event_cube", qEventCube, qEventCubeSql),
    QuerySpec("q_retention", qRetention, qRetentionSql),
    QuerySpec("q_event_transitions", qEventTransitions, qEventTransitionsSql),
    QuerySpec("q_event_drift", qEventDrift, qEventDriftSql)
  )
}
