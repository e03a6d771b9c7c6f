package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Robust-statistics operators: z-score outlier detection and
  * percentile winsorization — the clamp/flag stage every numeric
  * feature pipeline runs before training, shaped for exactness and
  * scale.
  *
  * Exactness recipe (why the oracle hash-matches): the value columns
  * are 2-decimal money-like doubles, so each value is scaled to an
  * integer (`w = value·100`) and every moment, threshold, and
  * comparison is computed in integer/DECIMAL arithmetic — the outlier
  * predicate `(w·n − S)² > 4·(Q·n − S²)` is `|v − μ| > 2σ` with both
  * sides multiplied out to integers, so no engine ever takes a square
  * root or divides. DuckDB mirrors with HUGEINT, Spark with
  * DECIMAL(38,0); both are exact at these magnitudes, so the booleans
  * agree bit-for-bit.
  */
object Robust {

  /** Source-bytes threshold above which this lane's SINGLE-SCAN shape
    * (one per-(group, value) exact-count aggregation feeding thresholds
    * AND the weighted final pass) beats the multi-scan shape. Measured
    * crossover (r19, same-session alternating A/B, results `==` every
    * round): at sf0.1 (lineitem 10.8 MB / events 1.1 MB) the multi-scan
    * shape wins by 0.2–0.4 s — the cost there is sequential AQE stage
    * latency, and the value-count shape adds an exchange plus a
    * materialization; at 10× (108 MB) the single-scan shape wins 0.55×
    * (winsorize 2.4→1.3 s) / 0.65× (binning 3.0→2.0 s), and at a
    * 100×-events stage (115 MB) zscore wins 0.6× (1.7→0.86 s). 64 MiB
    * sits between the measured regimes; at 100 TB the single-scan
    * shape saves one to two full fact scans per query, because the
    * value-count frame is bounded by the 2-decimal value DOMAIN, not
    * the row count. Same decide-by-input-size pattern as
    * [[Dedup.ResolveDriverThreshold]] and
    * [[graft.streaming.Streaming.adaptiveStateParts]]: both shapes are
    * result-identical (spec-pinned), the data size picks the cheaper
    * plan before the query is built.
    */
  val SingleScanBytes: Long = 64L << 20

  private def singleScanFor(spark: SparkSession, dir: String,
    table: String): Boolean =
    graft.sources.Sources.sourceFileBytes(spark, s"$dir/$table") >= SingleScanBytes

  /** Per-event-type z-score outlier counts over the events stream:
    * flags rows with `|value − μ| > 2σ` (population σ).
    *
    * Shape at scale: ONE scan of the fact into per-(type, value) exact
    * counts (domain-bounded — `value` is 2-decimal), moments as
    * weighted sums over that frame (6 rows out), broadcast back, and
    * the flag-and-count pass weights the same frame — zero row-scale
    * shuffles, zero re-scans. The moments are sums, so at 100 TB the
    * single pass is map-side-combined per file split. Below
    * [[SingleScanBytes]] the old two-scan shape is kept (cheaper at
    * toy scale — see the threshold's measurement note).
    */
  def qEventZscore(spark: SparkSession, dir: String): DataFrame =
    zscoreOutliers(Tables.events(spark, dir), col("event_type"),
      col("value"), singleScan = singleScanFor(spark, dir, "events.parquet"))

  /** [[qEventZscore]] over any frame: group column + 2-decimal value.
    *
    * Exactness headroom: every product stays within DECIMAL(38,0) as
    * long as `max|w|·n ≤ 10¹⁸` per group (then q·n ≤ (m·n)² = 10³⁶ and
    * lhs² ≤ (2·m·n)² = 4·10³⁶, both < 10³⁸; the sums themselves are
    * DECIMAL, so they never hit the BIGINT ceiling first). Beyond the
    * bound, ANSI Spark (the 4.x default) would abort with an opaque
    * overflow mid-pipeline and non-ANSI would silently NULL the
    * product and DROP rows from the outlier count — so the bound is
    * enforced per row with `assert_true` on the broadcast (m, n) pair,
    * evaluated BEFORE the outlier predicate: a group past the headroom
    * fails with an actionable message instead of under-counting or
    * pointing at a random multiply. At 10¹⁸ micro-cents·rows (e.g.
    * 10¹⁰ rows of values up to 10⁶) the restructure is to subtract the
    * per-group mean before squaring, which shrinks magnitudes by ~n.
    */
  def zscoreOutliers(df: DataFrame, group: Column, value: Column,
    singleScan: Boolean = true): DataFrame = {
    val w = df.select(group.as("g"),
      (value.cast(DecimalType(12, 2)) * 100).cast("long").as("w"))
    val d38 = DecimalType(38, 0)
    // SINGLE-SCAN shape (r19, guide §2.3): the moments AND the outlier
    // predicate both derive from per-(g, w) exact counts — the
    // predicate depends only on (g, w), so flagging distinct values and
    // weighting by `c` sums the identical integers the per-row pass
    // did. Output is bounded by the value DOMAIN (2-decimal), so at
    // 100 TB the map-side combine collapses the shuffle to domain
    // scale and the fact is scanned once instead of twice. Eager
    // localCheckpoint: one materialization per invocation (the same
    // per-query pin pagerank/resolve use) — without it each consumer
    // re-plans the scan+aggregate subtree, and the join's inferred
    // not-null key filter pushes into one copy, defeating exchange
    // reuse (measured in the r19 executed plans). Below
    // [[SingleScanBytes]] the flag pass re-scans the fact instead
    // (`wc` stays lazy and only the moments consume it — one scan +
    // one scan, no exchange, no materialization — measured cheaper at
    // toy scale where stage latency dominates).
    val wcRaw = w.groupBy("g", "w").agg(count(lit(1)).as("c"))
    val wc = if (singleScan) wcRaw.localCheckpoint(true) else wcRaw
    val stats =
      if (singleScan) wc.groupBy("g").agg(
        sum(col("c")).as("n"),
        sum(col("w").cast(d38) * col("c")).as("s"),
        sum(col("w").cast(d38) * col("w") * col("c")).as("q"),
        max(abs(col("w"))).as("m"))
      else w.groupBy("g").agg(
        count(lit(1)).as("n"),
        sum(col("w").cast(d38)).as("s"),
        sum(col("w").cast(d38) * col("w")).as("q"),
        max(abs(col("w"))).as("m"))
    val lhs = col("w").cast(d38) * col("n") - col("s")
    val rhs = (col("q").cast(d38) * col("n") - col("s").cast(d38) * col("s")) * 4
    val headroom = lit("1000000000000000000").cast(d38) // 10^18
    val guarded = isnull(assert_true(
      col("m").cast(d38) * col("n") <= headroom,
      lit("zscoreOutliers: max|w|*n exceeds DECIMAL(38) headroom; " +
        "center values per group before squaring")))
    val flagged =
      if (singleScan) wc.join(broadcast(stats), "g")
        .select(col("g"), col("n"), col("s"),
          ((guarded && (lhs * lhs > rhs)).cast("long") * col("c")).as("is_out"))
      else w.join(broadcast(stats), "g")
        .select(col("g"), col("n"), col("s"),
          (guarded && (lhs * lhs > rhs)).cast("long").as("is_out"))
    flagged
      .groupBy(col("g").as("event_type"))
      .agg(first(col("n")).as("n_events"),
        sum(col("is_out")).as("n_outliers"),
        first(col("s")).as("s"))
      // mean in integer micro-units (s is value·100, so ·10⁴ → micro),
      // half away from zero — a decimal-sum / count quotient can land
      // exactly on a rounding half-boundary where the engines' round()
      // disagree (see Text2.unigramLmScores); floor-div never does.
      // abs + sign, not a bare div: for a negative sum (deltas, P&L —
      // this is a general API) Spark's `div` truncates while DuckDB's
      // `//` floors, and neither is round-half-away.
      .select(col("event_type"), col("n_events"), col("n_outliers"),
        (expr("CASE WHEN s < 0 THEN -1L ELSE 1L END") *
          expr("(abs(s) * 10000 * 2 + n_events) div (n_events * 2)"))
          .cast("double").divide(lit(1000000.0)).as("avg_value"))
      .orderBy("event_type")
  }

  /** Winsorized pricing per return flag: l_extendedprice clamped to its
    * per-group [p1, p99], with clamp counts — plus the group's exact
    * clamped DECIMAL sum.
    *
    * The percentile is the rank-`ceil(p·n)` VALUE, found without
    * sorting the fact table OR its distinct values: a cents-bucket
    * histogram locates each rank's bucket, and only those buckets get
    * per-value refinement (see [[orderStats]]). The 3-row threshold
    * frame broadcasts back for a narrow clamp pass. Ties cost nothing:
    * the k-th value ordered by value is well-defined whatever order
    * equal rows shuffle in. At 100 TB the only sorts are over the
    * O(groups × buckets) histogram and the handful of selected
    * buckets' values, never over rows — the scale-killer a naive
    * `row_number() OVER (ORDER BY price)` global rank would be.
    */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame =
    winsorize(Tables.lineitem(spark, dir), col("l_returnflag"),
      col("l_extendedprice"), 1, 99,
      singleScan = singleScanFor(spark, dir, "lineitem.parquet"))

  /** Exact per-group cumulative counts over the distinct values of a
    * 2-decimal column, as a DISTRIBUTED two-level prefix sum: a plain
    * `Window.partitionBy(g)` caps parallelism at the number of groups
    * (3 here — measured as the bottleneck at sf0.1), so instead the
    * value domain is cut into coarse cents-buckets, per-(g, bucket)
    * windows run fully parallel, and only the tiny (g, bucket) total
    * frame takes a serial prefix pass. Returns (g, p, c, cum, n) with
    * `cum` = #rows with value ≤ p in g, `n` = group size — exactly what
    * the single window produced, at O(groups × buckets) serial work.
    * Use when the FULL cumulative distribution is needed (e.g.
    * [[Events2]]'s conversion-latency quantile table); when only a few
    * order statistics are wanted, [[orderStats]] skips the
    * distinct-value cumulative table entirely.
    */
  private[ops] def cumCounts(prices: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = prices.groupBy("g", "p").agg(count(lit(1)).as("c"))
      .withColumn("bkt", expr("CAST(p * 100 AS BIGINT) div 8192"))
    val local = Window.partitionBy("g", "bkt").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = cnts.groupBy("g", "bkt").agg(sum(col("c")).as("bc"))
    val prior = Window.partitionBy("g").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("off", coalesce(sum(col("bc")).over(prior), lit(0L)))
      .withColumn("n", sum(col("bc")).over(Window.partitionBy("g")))
      .select(col("g"), col("bkt"), col("off"), col("n"))
    cnts
      .withColumn("lc", sum(col("c")).over(local))
      .join(offsets, Seq("g", "bkt"))
      .select(col("g"), col("p"), col("c"),
        (col("lc") + col("off")).as("cum"), col("n"))
  }

  /** Per-(group, value) exact counts — the single corpus aggregation
    * the winsorize/binning lane runs (ONE FileScan of the fact; every
    * later phase works off this frame). The output is bounded by the
    * value DOMAIN, not the row count: `p` is DECIMAL(12,2), so a group
    * holds at most 10¹⁰ distinct cents values whatever the fact's row
    * count — at 100 TB the map-side combine collapses the shuffle to
    * domain scale. Callers eagerly localCheckpoint the frame: planner
    * exchange reuse across its three consumers does NOT hold (the
    * refinement join pushes an inferred not-null bucket filter into
    * its copy of the subtree, so the exchanges no longer canonicalize
    * equal — r19 executed plans), and the checkpoint makes the
    * one-materialization contract explicit.
    */
  private[ops] def valueCounts(prices: DataFrame): DataFrame =
    prices.groupBy("g", "p").agg(count(lit(1)).as("c"))

  /** Exact per-group order statistics WITHOUT materializing cumulative
    * counts over every distinct value: at sf0.1, l_extendedprice is
    * 97% unique (583 k distinct of 600 k rows), so the distinct-value
    * cumulative table is row-scale and its window sorts dominate the
    * winsorize/binning cost — measured as the two most expensive batch
    * queries in round 4. This is the classic two-phase quantile
    * instead: (1) a cents-bucket histogram (summed from the per-value
    * counts into O(groups × buckets) rows — each needed rank `k(n)`
    * then locates its bucket by the serial bucket prefix), and (2) a
    * residual-rank refinement over ONLY the selected buckets'
    * per-value counts (a broadcast join touching ~rank-count ×
    * bucket-width values, one tiny window inside each). Exactness
    * is unchanged: every copy of a value lives in exactly one bucket,
    * so bucket-start + within-bucket rank is the global rank.
    *
    * Takes the [[valueCounts]] frame, NOT the fact: both phases (and
    * the caller's final pass) derive from that one aggregation, so the
    * fact is scanned once per query instead of once per phase (r19 —
    * the before-plan had three FileScans of lineitem; guide §2.3/§2.4).
    *
    * `ks` maps a tag to the wanted rank as SQL over the group size `n`
    * (e.g. `(n * 99 + 99) div 100`). Returns (g, d, t): per group and
    * tag, the rank's VALUE.
    */
  private[ops] def orderStatsOfCounts(pv: DataFrame,
    ks: Seq[(Int, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = pv.withColumn("bkt", expr("CAST(p * 100 AS BIGINT) div 8192"))
    val hist = b.groupBy("g", "bkt").agg(sum(col("c")).as("c"))
    val wPrior = Window.partitionBy("g").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withStart = hist
      .withColumn("start", coalesce(sum(col("c")).over(wPrior), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("g")))
    val wanted = withStart.select(col("g"), col("bkt"), col("start"),
        col("c"), explode(array(ks.map { case (d, kExpr) =>
          struct(lit(d).as("d"), expr(kExpr).as("k")) }: _*)).as("dk"))
      .filter(col("dk.k") > col("start") &&
        col("dk.k") <= col("start") + col("c"))
      .select(col("g"), col("bkt"), col("dk.d").as("d"),
        (col("dk.k") - col("start")).as("kr"))
    val wv = Window.partitionBy("g", "d").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(wanted), Seq("g", "bkt"))
      .withColumn("cum", sum(col("c")).over(wv))
      .filter(col("cum") >= col("kr"))
      .groupBy("g", "d").agg(min(col("p")).as("t"))
  }

  /** The multi-scan variant of [[orderStatsOfCounts]], verbatim the
    * pre-r19 shape: histogram and refinement each scan the raw (g, p)
    * fact (map-side-combined aggregates, NO row-scale exchange, no
    * materialization). Kept for the below-[[SingleScanBytes]] regime,
    * where re-scanning a small fact is cheaper than exchanging +
    * materializing its value counts.
    */
  private[ops] def orderStats(prices: DataFrame,
    ks: Seq[(Int, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = prices.withColumn("bkt", expr("CAST(p * 100 AS BIGINT) div 8192"))
    val hist = b.groupBy("g", "bkt").agg(count(lit(1)).as("c"))
    val wPrior = Window.partitionBy("g").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withStart = hist
      .withColumn("start", coalesce(sum(col("c")).over(wPrior), lit(0L)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("g")))
    val wanted = withStart.select(col("g"), col("bkt"), col("start"),
        col("c"), explode(array(ks.map { case (d, kExpr) =>
          struct(lit(d).as("d"), expr(kExpr).as("k")) }: _*)).as("dk"))
      .filter(col("dk.k") > col("start") &&
        col("dk.k") <= col("start") + col("c"))
      .select(col("g"), col("bkt"), col("dk.d").as("d"),
        (col("dk.k") - col("start")).as("kr"))
    val wv = Window.partitionBy("g", "d").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(wanted), Seq("g", "bkt"))
      .groupBy("g", "d", "kr", "p").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wv))
      .filter(col("cum") >= col("kr"))
      .groupBy("g", "d").agg(min(col("p")).as("t"))
  }

  /** [[qWinsorize]] over any frame: clamp `value` to the group's
    * [pLo, pHi] percentiles (whole-percent ranks, exact). Both shapes
    * (see [[SingleScanBytes]]) produce identical rows — `RobustSpec`
    * pins the equality (the A/B of the two shapes is recorded in
    * OPTIMIZATION_r19.md).
    */
  def winsorize(df: DataFrame, group: Column, value: Column,
    pLo: Int, pHi: Int, singleScan: Boolean = true): DataFrame = {
    val prices = df.select(group.as("g"),
      value.cast(DecimalType(12, 2)).as("p"))
    // ceil(p·n/100) as pure integer arithmetic — identical in DuckDB.
    val ks = Seq(
      0 -> s"(n * $pLo + 99) div 100", 1 -> s"(n * $pHi + 99) div 100")
    if (singleScan) {
      // ONE corpus aggregation; thresholds AND the clamp pass both work
      // off the per-value counts (weighted by `c`), so the fact is
      // scanned once instead of three times (r19, guide §2.3/§2.4). The
      // weighted sums are the identical exact DECIMAL/integer
      // arithmetic: Σ_rows f(p) = Σ_values f(p)·c for every aggregate
      // below. Eager localCheckpoint: one materialization per
      // invocation — without it each consumer re-plans the
      // scan+aggregate subtree, and the refinement join's inferred
      // not-null key filter pushes into its copy, defeating exchange
      // reuse (measured in the r19 executed plans).
      val pv = valueCounts(prices).localCheckpoint(true)
      val stats = orderStatsOfCounts(pv, ks)
      val thresholds = stats.groupBy("g").agg(
        min(when(col("d") === 0, col("t"))).as("lo"),
        min(when(col("d") === 1, col("t"))).as("hi"))
      pv.join(broadcast(thresholds), "g")
        .select(col("g"), col("c"),
          least(greatest(col("p"), col("lo")), col("hi")).as("cl"),
          (col("p") < col("lo")).cast("long").as("is_lo"),
          (col("p") > col("hi")).cast("long").as("is_hi"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(sum(col("c")).as("n_rows"),
          sum(col("cl") * col("c")).cast("double").as("win_sum"),
          sum(col("is_lo") * col("c")).as("n_clamped_lo"),
          sum(col("is_hi") * col("c")).as("n_clamped_hi"))
        .orderBy("l_returnflag")
    } else {
      val stats = orderStats(prices, ks)
      val thresholds = stats.groupBy("g").agg(
        min(when(col("d") === 0, col("t"))).as("lo"),
        min(when(col("d") === 1, col("t"))).as("hi"))
      prices.join(broadcast(thresholds), "g")
        .select(col("g"),
          least(greatest(col("p"), col("lo")), col("hi")).as("cl"),
          (col("p") < col("lo")).cast("long").as("is_lo"),
          (col("p") > col("hi")).cast("long").as("is_hi"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cl")).cast("double").as("win_sum"),
          sum(col("is_lo")).as("n_clamped_lo"),
          sum(col("is_hi")).as("n_clamped_hi"))
        .orderBy("l_returnflag")
    }
  }

  /** Decile feature binning — the quantile-discretizer stage, done the
    * scale-correct way: `ntile(10)` would globally rank every row
    * (a per-group row-scale sort); instead the 9 exact decile
    * thresholds (rank-ceil(d·n/10) VALUES, same distinct-value
    * cumulative machinery as [[winsorize]]) broadcast back and each
    * row's bin is nine decimal comparisons. Bin semantics: bin =
    * #thresholds strictly below the value (0..9); ties land in the
    * lowest bin whose threshold equals them — deterministic under any
    * row order, unlike ntile's arbitrary tie split.
    */
  def qFeatureBinning(spark: SparkSession, dir: String): DataFrame =
    featureBins(Tables.lineitem(spark, dir), col("l_returnflag"),
      col("l_extendedprice"),
      singleScan = singleScanFor(spark, dir, "lineitem.parquet"))

  /** [[qFeatureBinning]] over any frame: per-group decile audit. Both
    * shapes (see [[SingleScanBytes]]) produce identical rows.
    */
  def featureBins(df: DataFrame, group: Column, value: Column,
    singleScan: Boolean = true): DataFrame = {
    val prices = df.select(group.as("g"),
      value.cast(DecimalType(12, 2)).as("p"))
    val ks = (1 to 9).map(d => d -> s"(n * $d + 9) div 10")
    val tCols = (1 to 9).map(d =>
      min(when(col("d") === d, col("t"))).as(s"t$d"))
    val bin = (1 to 9).map(d => (col("p") > col(s"t$d")).cast("int"))
      .reduce(_ + _)
    if (singleScan) {
      // Same single-scan shape as [[winsorize]]: thresholds and the
      // per-bin audit both derive from the one value-count aggregation
      // (`n_rows` as Σc; min/max over distinct values are count-free).
      val pv = valueCounts(prices).localCheckpoint(true)
      val stats = orderStatsOfCounts(pv, ks)
      val thresholds = stats.groupBy("g").agg(tCols.head, tCols.tail: _*)
      pv.join(broadcast(thresholds), "g")
        .withColumn("bin", bin)
        .groupBy(col("g").as("l_returnflag"), col("bin"))
        .agg(sum(col("c")).as("n_rows"),
          min(col("p")).cast("double").as("lo"),
          max(col("p")).cast("double").as("hi"))
        .orderBy("l_returnflag", "bin")
    } else {
      val stats = orderStats(prices, ks)
      val thresholds = stats.groupBy("g").agg(tCols.head, tCols.tail: _*)
      prices.join(broadcast(thresholds), "g")
        .withColumn("bin", bin)
        .groupBy(col("g").as("l_returnflag"), col("bin"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("p")).cast("double").as("lo"),
          max(col("p")).cast("double").as("hi"))
        .orderBy("l_returnflag", "bin")
    }
  }

  val oracles: Map[String, String] = Map(
    "q_feature_binning" ->
      """WITH pr AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p
        |  FROM lineitem),
        |cnts AS (SELECT g, p, COUNT(*) AS c FROM pr GROUP BY g, p),
        |ranked AS (
        |  SELECT g, p,
        |    SUM(c) OVER (PARTITION BY g ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM cnts),
        |th AS (
        |  SELECT g,
        |    MIN(CASE WHEN cum >= (n * 1 + 9) // 10 THEN p END) AS t1,
        |    MIN(CASE WHEN cum >= (n * 2 + 9) // 10 THEN p END) AS t2,
        |    MIN(CASE WHEN cum >= (n * 3 + 9) // 10 THEN p END) AS t3,
        |    MIN(CASE WHEN cum >= (n * 4 + 9) // 10 THEN p END) AS t4,
        |    MIN(CASE WHEN cum >= (n * 5 + 9) // 10 THEN p END) AS t5,
        |    MIN(CASE WHEN cum >= (n * 6 + 9) // 10 THEN p END) AS t6,
        |    MIN(CASE WHEN cum >= (n * 7 + 9) // 10 THEN p END) AS t7,
        |    MIN(CASE WHEN cum >= (n * 8 + 9) // 10 THEN p END) AS t8,
        |    MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN p END) AS t9
        |  FROM ranked GROUP BY g)
        |SELECT g AS l_returnflag,
        |  CAST((p > t1) AS INT) + CAST((p > t2) AS INT)
        |    + CAST((p > t3) AS INT) + CAST((p > t4) AS INT)
        |    + CAST((p > t5) AS INT) + CAST((p > t6) AS INT)
        |    + CAST((p > t7) AS INT) + CAST((p > t8) AS INT)
        |    + CAST((p > t9) AS INT) AS bin,
        |  COUNT(*) AS n_rows,
        |  CAST(MIN(p) AS DOUBLE) AS lo,
        |  CAST(MAX(p) AS DOUBLE) AS hi
        |FROM pr JOIN th USING (g)
        |GROUP BY g, bin ORDER BY l_returnflag, bin""".stripMargin,
    "q_event_zscore" ->
      """WITH w AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS w
        |  FROM events),
        |st AS (
        |  SELECT g, COUNT(*) AS n, SUM(w) AS s,
        |    SUM(CAST(w AS HUGEINT) * w) AS q
        |  FROM w GROUP BY g)
        |SELECT g AS event_type, n AS n_events,
        |  CAST(SUM(CASE WHEN (CAST(w.w AS HUGEINT) * n - s)
        |             * (CAST(w.w AS HUGEINT) * n - s)
        |           > 4 * (CAST(q AS HUGEINT) * n - CAST(s AS HUGEINT) * s)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
        |    * ((abs(s) * 10000 * 2 + n) // (n * 2)) AS DOUBLE) / 1000000.0
        |    AS avg_value
        |FROM w JOIN st USING (g)
        |GROUP BY g, n, s ORDER BY event_type""".stripMargin,
    "q_winsorize" ->
      """WITH pr AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p
        |  FROM lineitem),
        |cnts AS (SELECT g, p, COUNT(*) AS c FROM pr GROUP BY g, p),
        |ranked AS (
        |  SELECT g, p,
        |    SUM(c) OVER (PARTITION BY g ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM cnts),
        |th AS (
        |  SELECT g,
        |    MIN(CASE WHEN cum >= (n * 1 + 99) // 100 THEN p END) AS lo,
        |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN p END) AS hi
        |  FROM ranked GROUP BY g)
        |SELECT g AS l_returnflag, COUNT(*) AS n_rows,
        |  -- CASE, not LEAST/GREATEST: DuckDB promotes those to DOUBLE,
        |  -- which would break the exact DECIMAL sum
        |  CAST(SUM(CASE WHEN p < lo THEN lo WHEN p > hi THEN hi ELSE p END)
        |    AS DOUBLE) AS win_sum,
        |  CAST(SUM(CASE WHEN p < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_lo,
        |  CAST(SUM(CASE WHEN p > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_hi
        |FROM pr JOIN th USING (g)
        |GROUP BY g ORDER BY l_returnflag""".stripMargin,
  )
}
