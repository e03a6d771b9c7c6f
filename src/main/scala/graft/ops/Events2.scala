package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-sequence analytics: funnel conversion and cohort retention —
  * the product-analytics queries every event warehouse answers, shaped
  * so every aggregate and join partitions on `user_id` (one logical key
  * → co-partitioned stages, exchange reuse; at 100 TB the events table
  * is stored bucketed by user_id and none of these shuffle twice).
  */
object Events2 {

  /** Ordered 3-stage funnel: first signup, then first view AT OR AFTER
    * it, then first purchase at or after that view — per user, with
    * corpus-level stage counts and conversion rates. Second-granularity
    * event times (the streaming lane's convention) keep the comparisons
    * engine-exact; rates are one double division, rounded to 6.
    */
  def qEventFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir), Seq("signup", "view", "purchase"))

  /** 3-stage funnel over any (user_id, event_type, ts) frame. Stages stay
    * lazy: eager stage checkpoints were measured slower (OPTIMIZATION_r19.md).
    */
  def funnelOf(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.length == 3, "funnelOf is the 3-stage form")
    val ev = events
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val s = ev.filter(col("event_type") === stages(0))
      .groupBy("user_id").agg(min(col("sec")).as("s_sec"))
    val v = ev.filter(col("event_type") === stages(1))
      .join(s, "user_id").filter(col("sec") >= col("s_sec"))
      .groupBy("user_id").agg(min(col("sec")).as("v_sec"))
    val p = ev.filter(col("event_type") === stages(2))
      .join(v, "user_id").filter(col("sec") >= col("v_sec"))
      .groupBy("user_id").agg(min(col("sec")).as("p_sec"))
    s.agg(count(lit(1)).as("n_signup"))
      .crossJoin(v.agg(count(lit(1)).as("n_viewed")))
      .crossJoin(p.agg(count(lit(1)).as("n_converted")))
      .select(col("n_signup"), col("n_viewed"), col("n_converted"),
        round(col("n_viewed").cast("double") /
          col("n_signup").cast("double"), 6).as("view_rate"),
        round(col("n_converted").cast("double") /
          col("n_signup").cast("double"), 6).as("conversion_rate"))
  }

  /** Day-cohort retention: users grouped by their first active day,
    * with distinct-user counts still active 1 and 7 days later. The
    * (user, day) activity grid is deduplicated FIRST — the aggregate
    * then runs over O(users·active-days), not O(events) — and the
    * cohort join is on user_id, co-partitioned with the grid.
    */
  def qEventRetention(spark: SparkSession, dir: String): DataFrame =
    retentionOf(Tables.events(spark, dir))

  /** Day-cohort retention over any (user_id, ts) frame. */
  def retentionOf(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min(col("day")).as("d0"))
    ud.join(first, "user_id")
      .groupBy(col("d0"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count_distinct(when(datediff(col("day"), col("d0")) === 1,
          col("user_id"))).as("retained_d1"),
        count_distinct(when(datediff(col("day"), col("d0")) === 7,
          col("user_id"))).as("retained_d7"))
      .select(date_format(col("d0"), "yyyy-MM-dd").as("cohort_day"),
        col("n_users"), col("retained_d1"), col("retained_d7"))
      .orderBy("cohort_day")
  }

  /** Rolling 1-hour per-user aggregates via a calendar-INTERVAL RANGE
    * frame on the event-time column (the SQL-only frame spec the numeric
    * RANGE battery can't reach). The frame is a time-bounded SET of
    * rows, so COUNT is deterministic under any peer order; the SUM goes
    * through DECIMAL(12,2) so addition order cannot matter either.
    * Second-granularity timestamps keep the bound arithmetic
    * engine-exact. One shuffle on user_id; the running frame evaluates
    * in a single sorted pass per partition.
    */
  def qWindowTimeRange(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("tss", expr("timestamp_seconds(unix_timestamp(ts))"))
      .selectExpr(
        "event_id", "user_id",
        """COUNT(*) OVER (PARTITION BY user_id ORDER BY tss
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |  AS n_1h""".stripMargin,
        """CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
          |  PARTITION BY user_id ORDER BY tss
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |  AS DOUBLE) AS sum_1h""".stripMargin)
      .orderBy("event_id")

  /** Time-to-conversion distribution: per user, seconds from first
    * signup to the first purchase at or after it; corpus stats with
    * EXACT rank-based median and p90 (the value at rank ceil(q·n) via
    * the distinct-value cumulative pass — integer-exact, no
    * interpolation, never a row-scale sort; same machinery as
    * [[Robust.winsorize]]). The per-user joins co-partition on
    * user_id like the rest of this lane.
    */
  def qTimeToConvert(spark: SparkSession, dir: String): DataFrame =
    timeToConvertOf(Tables.events(spark, dir))

  /** Same operator over any (user_id, event_type, ts) frame. The
    * cumulative rank pass reuses [[Robust.cumCounts]]'s two-level
    * distributed prefix sum (one synthetic group), so the distinct
    * deltas are never sorted on a single task.
    */
  def timeToConvertOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = events.select(col("user_id"), col("event_type"),
      unix_timestamp(col("ts")).as("sec"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("sec")).as("s_sec"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(s, "user_id").filter(col("sec") >= col("s_sec"))
      .groupBy("user_id").agg(min(col("sec")).as("p_sec"))
    val deltas = p.join(s, "user_id")
      .select(lit("all").as("g"),
        (col("p_sec") - col("s_sec")).cast(DecimalType(12, 2)).as("p"))
    Robust.cumCounts(deltas)
      .withColumn("d", col("p").cast("long"))
      .agg(first(col("n")).as("n_users"),
        min(col("d")).as("min_sec"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("d")))
          .as("median_sec"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("d")))
          .as("p90_sec"),
        max(col("d")).as("max_sec"))
  }

  val oracles: Map[String, String] = Map(
    "q_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |s AS (SELECT user_id, MIN(sec) AS s_sec FROM ev
        |      WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT ev.user_id, MIN(sec) AS p_sec FROM ev
        |      JOIN s ON ev.user_id = s.user_id
        |      WHERE event_type = 'purchase' AND sec >= s_sec
        |      GROUP BY ev.user_id),
        |deltas AS (
        |  SELECT p.p_sec - s.s_sec AS d FROM p
        |  JOIN s ON p.user_id = s.user_id),
        |cnts AS (SELECT d, COUNT(*) AS c FROM deltas GROUP BY d),
        |ranked AS (
        |  SELECT d,
        |    SUM(c) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS n
        |  FROM cnts)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_users,
        |  MIN(d) AS min_sec,
        |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN d END) AS median_sec,
        |  MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN d END) AS p90_sec,
        |  MAX(d) AS max_sec
        |FROM ranked""".stripMargin,
    "q_window_time_range" ->
      """WITH t AS (
        |  SELECT event_id, user_id, value,
        |    to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS tss
        |  FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY tss
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        |    PARTITION BY user_id ORDER BY tss
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS sum_1h
        |FROM t ORDER BY event_id""".stripMargin,
    "q_event_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |s AS (SELECT user_id, MIN(sec) AS s_sec FROM ev
        |      WHERE event_type = 'signup' GROUP BY user_id),
        |v AS (SELECT e.user_id, MIN(e.sec) AS v_sec
        |      FROM ev e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'view' AND e.sec >= s.s_sec
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.sec) AS p_sec
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'purchase' AND e.sec >= v.v_sec
        |      GROUP BY e.user_id)
        |SELECT
        |  (SELECT COUNT(*) FROM s) AS n_signup,
        |  (SELECT COUNT(*) FROM v) AS n_viewed,
        |  (SELECT COUNT(*) FROM p) AS n_converted,
        |  round(CAST((SELECT COUNT(*) FROM v) AS DOUBLE)
        |    / CAST((SELECT COUNT(*) FROM s) AS DOUBLE), 6) AS view_rate,
        |  round(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
        |    / CAST((SELECT COUNT(*) FROM s) AS DOUBLE), 6) AS conversion_rate""".stripMargin,
    "q_event_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (
        |  SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id)
        |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
        |  COUNT(DISTINCT ud.user_id) AS n_users,
        |  COUNT(DISTINCT CASE WHEN ud.day - f.d0 = 1
        |    THEN ud.user_id END) AS retained_d1,
        |  COUNT(DISTINCT CASE WHEN ud.day - f.d0 = 7
        |    THEN ud.user_id END) AS retained_d7
        |FROM ud JOIN first f ON ud.user_id = f.user_id
        |GROUP BY f.d0 ORDER BY cohort_day""".stripMargin,
  )
}
