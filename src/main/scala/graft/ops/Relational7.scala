package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Seventh tranche: the native session_window operator, the spark.sql SQL
  * entry point (composite TPC-H-style query over temp views), correlated
  * LATERAL joins, and bitwise / interval arithmetic batteries.
  */
object Relational7 {

  /** Spark's native `session_window` generator — THE built-in
    * sessionization operator (dynamic-gap windows merged per key in one
    * shuffle). Timestamps floor to whole seconds first so the 30-minute
    * gap boundary is engine-exact. Merge is INCLUSIVE at the boundary:
    * an event exactly 1800 s after the previous one extends the session
    * (verified at sf0.1 — user 511 has a boundary pair), so the
    * oracle's island break is gap > 1800.
    */
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("tss", expr("timestamp_seconds(unix_timestamp(ts))"))
      .groupBy(session_window(col("tss"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** The SQL entry point: every table a user-facing temp view, the query
    * itself ANSI SQL through spark.sql — proof the engine's surface
    * includes plain SQL, planned by the same Catalyst pipeline as the
    * DataFrame API (identical physical plans).
    */
  def qSqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    spark.sql(
      """SELECT c_mktsegment, o_orderpriority,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
        |    AS DOUBLE) AS revenue
        |FROM v_lineitem
        |JOIN v_orders ON l_orderkey = o_orderkey
        |JOIN v_customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)
  }

  /** Correlated LATERAL join: top-2 orders per rich customer via a
    * per-row correlated subquery with ORDER BY + LIMIT — the
    * "top-N per group as a join" shape (Catalyst plans it as a
    * window-ranked join, not a per-row re-scan).
    */
  def qLateralTopN(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    spark.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM v_customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM v_orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
        |WHERE c.c_acctbal > 9500
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)
  }

  /** Join-strategy hints: force a sort-merge join where the planner
    * would broadcast (the production lever when a "small" side isn't —
    * e.g. after a selective-looking filter that isn't selective at full
    * scale). PlanSpec pins that the hint actually flips the strategy;
    * values match the unhinted oracle, proving hints are plan-only.
    */
  def qJoinHinted(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).hint("merge")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("total"))
      .orderBy("c_mktsegment")
  }

  /** Bitwise battery: and / or / xor / shifts on the key column. */
  def qBitwise(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"),
        expr("l_orderkey & 255").as("b_and"),
        expr("l_orderkey | 16").as("b_or"),
        expr("l_orderkey ^ 85").as("b_xor"),
        expr("shiftleft(l_orderkey, 2)").as("b_shl"),
        expr("shiftright(l_orderkey, 1)").as("b_shr"))
      .orderBy("l_orderkey")
  }

  /** Interval arithmetic on timestamps: +90 minutes, -1 day, timestamp
    * diff in minutes — all at whole-second precision.
    */
  def qIntervalArith(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("tss", expr("timestamp_seconds(unix_timestamp(ts))"))
      .select(col("event_id"),
        date_format(expr("tss + INTERVAL 90 MINUTE"), "yyyy-MM-dd HH:mm:ss")
          .as("plus90m"),
        date_format(expr("tss - INTERVAL 1 DAY"), "yyyy-MM-dd HH:mm:ss")
          .as("minus1d"),
        expr("CAST(unix_timestamp(ts) div 60 AS BIGINT)").as("epoch_min"))
      .orderBy("event_id")
  }

  /** Spark 4 VARIANT type: parse_json → variant_get with a typed path,
    * try_variant_get on a missing path → null. The oracle replays via
    * plain JSON extraction — semantics, not storage, are what's checked.
    */
  def qVariantJson(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k_var"),
        expr("try_variant_get(parse_json(props), '$.does_not_exist', 'bigint')")
          .as("missing"))
      .orderBy("event_id")
  }

  /** Aggregate-to-array: collect_set → sorted array → joined string (the
    * only deterministic, cross-engine-comparable form of a collected
    * list).
    */
  def qCollectList(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
        size(collect_set(col("l_linenumber"))).cast("long").as("n_linenums"))
      .orderBy("l_returnflag")
  }

  /** Partition pruning end-to-end: write documents partitioned by lang
    * (the at-rest layout), read back with a partition-column filter —
    * the scan lists only the lang=en directory (PartitionFilters in the
    * plan; a PlanSpec assertion pins it) — and aggregate. Hash-checked
    * against the same aggregate over the unpartitioned table.
    */
  def qPartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.Sources.stagedPath("graft_part_docs_", dir)
    graft.sources.Sources.stageOnceInJvm(s"$dir->$out") {
      Tables.documents(spark, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(out)
    }
    graft.sources.Sources.readParquet(spark, out)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("source")
  }

  val oracles: Map[String, String] = Map(
    "q_variant_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_var,
        |  CAST(json_extract_string(props, '$.does_not_exist') AS BIGINT) AS missing
        |FROM events ORDER BY event_id""".stripMargin,
    "q_collect_list" ->
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
        |    AS statuses,
        |  CAST(len(list_distinct(list(l_linenumber))) AS BIGINT) AS n_linenums
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_partition_pruning" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_session_window" ->
      """WITH t AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
        |g AS (
        |  SELECT user_id, s,
        |    CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
        |         OR s - lag(s) OVER (PARTITION BY user_id ORDER BY s) > 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM t),
        |i AS (
        |  SELECT user_id, s,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id,
        |  strftime(to_timestamp(MIN(s)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(to_timestamp(MAX(s) + 1800), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events
        |FROM i GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q_sql_entry" ->
      """SELECT c_mktsegment, o_orderpriority,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority
        |ORDER BY c_mktsegment, o_orderpriority""".stripMargin,
    "q_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
        |WHERE c.c_acctbal > 9500
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,
    "q_join_hinted" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_bitwise" ->
      """SELECT l_orderkey,
        |  l_orderkey & 255 AS b_and,
        |  l_orderkey | 16 AS b_or,
        |  xor(l_orderkey, 85) AS b_xor,
        |  l_orderkey << 2 AS b_shl,
        |  l_orderkey >> 1 AS b_shr
        |FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""".stripMargin,
    "q_interval_arith" ->
      """SELECT event_id,
        |  strftime(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) + INTERVAL 90 MINUTE,
        |    '%Y-%m-%d %H:%M:%S') AS plus90m,
        |  strftime(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) - INTERVAL 1 DAY,
        |    '%Y-%m-%d %H:%M:%S') AS minus1d,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 60 AS epoch_min
        |FROM events ORDER BY event_id""".stripMargin,
  )
}
