package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Skew-mitigation operators — the 100 TB story made executable.
  *
  * A hot key (one returnflag holds ~half of lineitem; one user dominates
  * an event log) turns a single reducer into the whole job's critical
  * path. Two standard remedies, both oracle-checked to produce results
  * identical to their unsalted formulations:
  *
  *  - salted two-phase aggregation: groupBy(key, salt) partial →
  *    groupBy(key) final. The hot key's partials spread over N salts /
  *    N reducers; exact DECIMAL sums make the re-aggregation lossless.
  *  - salted broadcast-free join: explode the small side N× (one copy per
  *    salt), salt the big side with pmod(hash(row-id), N) — each hot-key
  *    shard joins against its own copy. (AQE's skewedJoin does this
  *    adaptively at runtime — `AqeSkewSpec` proves it fires on a 90%-hot
  *    key and is result-invisible; this explicit form remains for when
  *    the planner must be forced, e.g. skewed AGGREGATION, which AQE's
  *    skew-join does not cover.)
  */
object Skew {

  val SaltBuckets = 16

  private def dec(c: Column) = c.cast(DecimalType(12, 2))

  /** Two-phase salted aggregation over the deliberately-skewed
    * l_returnflag key (6-ish distinct values for 600 K+ rows). The salt
    * is derived from a row-unique column, so partials distribute evenly
    * regardless of key skew.
    */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")),
        lit(SaltBuckets)))
    val partial = l
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(dec(col("l_quantity"))).as("ps_qty"),
        count(lit(1)).as("ps_cnt"))
    partial
      .groupBy(col("l_returnflag"))
      .agg(sum(col("ps_qty")).cast("double").as("sum_qty"),
        sum(col("ps_cnt")).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** Salted join of skewed fact keys against a dimension: the dim side is
    * exploded once per salt bucket so every salted fact shard finds its
    * row. Result must equal the plain join (oracle: unsalted SQL).
    *
    * The SHUFFLE_HASH hint is load-bearing, not a tuning nicety. Catalyst
    * estimates the exploded dim from the pruned 2-column file scan and
    * `Generate`'s pass-through sizeInBytes — the 16× explode multiplier
    * never reaches the estimate — so without the hint the planner picks
    * BroadcastHashJoin over the EXPLODED side. At the 100× events stage
    * that is a 24 M-entry HashedRelation built single-threaded on the
    * driver: ~15 s of a 20 s call in isolation, and the 62 s pass-1 tail
    * in the full-gate JVM (diagnosed round 11 via stage timelines — the
    * executed stages totalled 4.5 s; the gap was all driver-side build).
    * Broadcasting the exploded dim also inverts the operator's reason to
    * exist: salting is the broadcast-FREE skew remedy, and a dim
    * replicated SaltBuckets× grows past any broadcast budget at scale.
    * SHUFFLE_HASH shuffles both sides on (key, salt) — each of P
    * partitions builds a 1/P-sized local hash table, no sort, no driver
    * build. Measured at ev100: 20.5/17.1 s (broadcast) → 7.8/3.8 s
    * cold/warm. `SkewPlanSpec` pins the join strategy.
    */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame =
    saltedJoin(spark, dir, "shuffle_hash")

  /** [[qSaltedJoin]]'s body, parameterized on the dim-side join hint so
    * a strategy comparison measures the SAME query the gate runs instead
    * of re-implementing it inline (the r11 diagnosis is in SCALE.md
    * §q_salted_join's pass-1 tail) — the gate shape is the
    * `shuffle_hash` instantiation above.
    */
  def saltedJoin(spark: SparkSession, dir: String, hint: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("salt", pmod(hash(col("o_orderkey")), lit(SaltBuckets)))
    val c = Tables.customer(spark, dir)
      .withColumn("salt", explode(sequence(lit(0), lit(SaltBuckets - 1))))
      .hint(hint)
    o.join(c, o("o_custkey") === c("c_custkey") && o("salt") === c("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy("c_mktsegment")
  }

  val oracles: Map[String, String] = Map(
    // Oracles are the UNSALTED formulations: salting must be invisible
    // in the result.
    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
  )
}
