package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Fourth tranche: full outer join, null-handling battery, exact
  * multi-quantiles, and time-series resampling with forward fill.
  */
object Relational4 {

  /** FULL OUTER join with unmatched rows on both sides (null keys pinned
    * NULLS FIRST on both engines).
    */
  def qJoinFull(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_acctbal") > 9500)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 450000)
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(c("c_custkey").as("ck"), o("o_orderkey").as("ok"))
      .orderBy(col("ck").asc_nulls_first, col("ok").asc_nulls_first)
  }

  /** Null-handling battery: nullif / coalesce / null-safe equality /
    * least / greatest / IS NULL. The null-safe operator is `<=>` in Spark
    * and `IS NOT DISTINCT FROM` in DuckDB — same semantics.
    */
  def qNullFuncs(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_linenumber") === 1)
      .select(
        col("l_orderkey"),
        expr("nullif(l_discount, 0.0)").as("disc_or_null"),
        expr("coalesce(nullif(l_discount, 0.0), -1.0)").as("disc_coalesced"),
        expr("nullif(l_discount, 0.0) <=> 0.05").as("nullsafe_eq"),
        least(col("l_quantity"), col("l_discount") * 100).as("least_v"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("greatest_v"),
        expr("nullif(l_discount, 0.0) IS NULL").as("was_zero"))
      .orderBy("l_orderkey")
  }

  /** Exact interpolated quantile vector per group (p25/p50/p75/p90),
    * computed as one array-percentile pass then projected to scalar
    * columns (array-typed outputs don't hash portably across harnesses).
    */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.9D))")
        .as("q"))
      .select(col("l_returnflag"),
        round(element_at(col("q"), 1), 6).as("p25"),
        round(element_at(col("q"), 2), 6).as("p50"),
        round(element_at(col("q"), 3), 6).as("p75"),
        round(element_at(col("q"), 4), 6).as("p90"))
      .orderBy("l_returnflag")
  }

  /** Time-series resample: per user, a 1-minute grid from first to last
    * event, per-minute exact value sums, forward-filled through gaps
    * (last non-null over the grid), then per-user summary.
    *
    * The naive batch shape — explode the full per-user grid, LEFT JOIN
    * the per-minute values back, forward-fill with a window over the
    * grid — puts the grid (users × minutes: 629 M rows at the 10× gate,
    * a 60× amplification of the events table) through a sort-merge join
    * AND a window sort: two grid-scale exchanges plus a grid-scale
    * sort, 803 s at 10×. The at-scale shape does every keyed operation
    * at EVENT scale instead: one window pass over the per-minute frame
    * computes the forward-fill (`last ignoreNulls`) and each minute's
    * gap extent (`lead`), then each (minute, next-minute) segment
    * explodes straight into a partial aggregate. The grid exists only
    * inside a narrow Generate→partial-agg pipeline — it never crosses
    * an exchange and never gets sorted — and per-gap `sequence` arrays
    * are bounded by gap length, not by a user's whole time span.
    * 803 s → seconds at the 10× gate; identical results (the segment
    * carries exactly the value the grid-scale fill would assign).
    *
    * The explicit-count repartition pins the window's parallelism: the
    * per-minute frame is small, so AQE would coalesce its exchange to
    * ~1 partition — and the grid-scale explode+agg pipeline downstream
    * of it would funnel through that one task. REPARTITION_BY_NUM is
    * exempt from AQE coalescing; the per-minute groupBy, the window,
    * and the final groupBy ALL reuse its clustering (hash(user_id)
    * satisfies ClusteredDistribution(user_id, minute)), so the whole
    * query runs off ONE pinned exchange.
    *
    * The repartition sits BELOW the per-minute aggregate (r12): the
    * earlier shape aggregated first and repartitioned after, which
    * planned a second, ENSURE_REQUIREMENTS exchange on (user, minute) —
    * the one surface AQE could still coalesce. Its ~9 M-row read sat
    * near the 64 MB advisory target, and a borderline coalesce would
    * run the final per-minute agg AND the repartition's shuffle WRITE
    * in one task — the suspected mechanism behind this query's rare
    * 120 s first-run outliers at the 100× stages (observed twice across
    * ~40 controlled runs; signature: one long task-poor stretch, no
    * spill, no GC — the same estimator-wobble class as r12's tfidf and
    * unigram broadcast flips, `ops/Text2.scala`). Repartitioning the
    * raw events first costs one shuffle of 10 M rows instead of two of
    * ~9 M (the map-side per-minute combine bought only ~10% here) and
    * leaves NO AQE-resizable exchange anywhere in the plan. On feeds
    * dense enough that per-minute combining collapses volume (many
    * events per user-minute), invert back to aggregate-first — and pin
    * the middle exchange some other way.
    *
    * r14: the pinned repartition is ACTIVATION-BOUNDED — `parts ×
    * [[activationWaves]]` instead of `parts`. The 12-session r14 cliff
    * campaign (SCALE.md §round-14) closed this
    * query's intermittent 48–207 s stalls: JIT **activation-level tier
    * starvation** — the fused aggregate loop is entered once per task,
    * a running activation can only upgrade via OSR entry, and after a
    * deopt storm at stage start the activations never re-enter the
    * (present, valid) tier-4 code, so one starved activation runs
    * sub-tier-4 for its WHOLE life. Raised recompilation cutoffs were
    * refuted (a treatment session cliffed at 115 s with a tier-4 full
    * compiled 0.8 s in and never entered). The lever that actually
    * bounds the damage is activation LENGTH: with w waves of shorter
    * tasks, a starved wave-1 activation costs ~1/w of the stage, and
    * every later task re-enters through the method's front door,
    * picking up the tier-4 full-method version that lands within ~1 s.
    * This is also the honest cluster shape — at 100 TB, file splits
    * bound per-activation input anyway; only single-node benches with
    * cores-many giant partitions expose whole-stage starvation. At the
    * gate scales the bound is a no-op (waves = 1, plan unchanged).
    * A deployment that wants the shared-map aggregate path instead sets
    * Spark's `spark.sql.codegen.aggregate.map.twolevel.enabled=false`.
    */
  def qEventResample(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // waves keyed off the summed SOURCE FILE bytes, not
    // optimizedPlan.stats.sizeInBytes (r15 ADVICE): the estimator value
    // shifts with session conf (fileCompressionFactor) and silently
    // yields the 8-wave cap when stats fall back to the huge default —
    // file bytes make the plan shape a pure function of the staged data
    val waves = activationWaves(
      BigInt(graft.sources.Sources.sourceFileBytes(spark, s"$dir/events.parquet")),
      parts)
    val e = Tables.events(spark, dir)
      .withColumn("minute", expr("unix_timestamp(ts) div 60"))
    val perMin = e
      .select(col("user_id"), col("minute"), col("value"))
      .repartition(parts * waves, col("user_id"))
      .groupBy(col("user_id"), col("minute"))
      .agg(sum(col("value").cast(DecimalType(12, 2))).cast("double").as("v"))
    val wu = Window.partitionBy(col("user_id")).orderBy(col("minute").asc)
    val seg = perMin
      .withColumn("ff", last(col("v"), ignoreNulls = true)
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("seg_end",
        coalesce(lead(col("minute"), 1).over(wu) - 1, col("minute")))
    seg
      .select(col("user_id"), col("v"), col("ff"), col("minute").as("m0"),
        explode(sequence(col("minute"), col("seg_end"))).as("m"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_minutes"),
        count(when(col("m") === col("m0"), col("v"))).as("n_event_minutes"),
        sum(when((col("m") =!= col("m0") || col("v").isNull)
            && col("ff").isNotNull, 1L)
          .otherwise(0L)).as("n_gap_filled"),
        max_by(col("ff"), col("m")).as("final_value"))
      .orderBy("user_id")
  }

  /** Waves of tasks per core for [[qEventResample]]'s pinned exchange:
    * `clamp(1..8, inputBytes / (parts · 512 KB))`, where `inputBytes`
    * is the summed on-disk source file size
    * ([[graft.sources.Sources.sourceFileBytes]] — deterministic across
    * sessions, unlike the estimator stats used before r15). One wave (the
    * gate-scale no-op) up to 512 KB of source per core; the ev100
    * events table (110 MB, 32 cores) lands at 6 waves (~18 MB → ~50 k
    * input rows → ~0.5 M exploded rows per activation); the cap keeps
    * task-scheduling overhead bounded on even larger single-node
    * stages. Derivation in the r14 scaladoc above: with w waves a
    * tier-starved activation costs ~(30 + w − 1)/w of the clean stage
    * instead of 30× — w = 6 bounds the historical 207 s worst case to
    * roughly 40 s while adding ≲0.5 s of task overhead to a ~7 s clean
    * stage. Pure function, spec-pinned.
    */
  private[graft] def activationWaves(inputBytes: BigInt, parts: Int): Int = {
    val perCore = BigInt(parts.max(1)) * (512L * 1024L)
    (inputBytes / perCore).min(8).max(1).toInt
  }

  val oracles: Map[String, String] = Map(
    "q_join_full" ->
      """SELECT c.c_custkey AS ck, o.o_orderkey AS ok
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9500) c
        |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY ck ASC NULLS FIRST, ok ASC NULLS FIRST""".stripMargin,
    "q_null_funcs" ->
      """SELECT l_orderkey,
        |  nullif(l_discount, 0.0) AS disc_or_null,
        |  coalesce(nullif(l_discount, 0.0), -1.0) AS disc_coalesced,
        |  nullif(l_discount, 0.0) IS NOT DISTINCT FROM 0.05 AS nullsafe_eq,
        |  least(l_quantity, l_discount * 100) AS least_v,
        |  greatest(l_quantity, l_discount * 100) AS greatest_v,
        |  nullif(l_discount, 0.0) IS NULL AS was_zero
        |FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |  round(q[1], 6) AS p25, round(q[2], 6) AS p50,
        |  round(q[3], 6) AS p75, round(q[4], 6) AS p90
        |FROM (SELECT l_returnflag,
        |        quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.9]) AS q
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q_event_resample" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute, value
        |  FROM events),
        |per_min AS (
        |  SELECT user_id, minute,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM e GROUP BY user_id, minute),
        |grid AS (
        |  SELECT user_id, unnest(range(lo, hi + 1)) AS minute
        |  FROM (SELECT user_id, MIN(minute) AS lo, MAX(minute) AS hi
        |        FROM e GROUP BY user_id)),
        |filled AS (
        |  SELECT g.user_id, g.minute, p.v,
        |    last_value(p.v IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.minute ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM grid g LEFT JOIN per_min p
        |    ON g.user_id = p.user_id AND g.minute = p.minute)
        |SELECT user_id, COUNT(*) AS n_minutes,
        |  COUNT(v) AS n_event_minutes,
        |  CAST(SUM(CASE WHEN v IS NULL AND filled IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_filled,
        |  arg_max(filled, minute) AS final_value
        |FROM filled GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
