package graft

/** Whole-catalogue plan audit: no gate query may plan a TRUE Cartesian
  * product (CartesianProduct = both sides row-scale with no join key —
  * the one physical operator that cannot survive a 100× scale-up).
  * Intentional cross joins against 1-row/broadcast frames lower to
  * BroadcastNestedLoopJoin, which is allowed. Streaming queries are
  * excluded (their returned frame is a materialized memory table; the
  * interesting plans are pinned in StreamingSpec), as are the pipe
  * queries (they'd spawn processes just to plan).
  */
class PlanAuditSpec extends SparkTestBase {

  test("no batch gate query plans a CartesianProduct") {
    val skip = (n: String) =>
      n.startsWith("q_stream_") || n.startsWith("pipe_") ||
        n.startsWith("wc_") // RDD-based: no SQL plan to audit
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !skip(name) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        name -> plan.contains("CartesianProduct")
    }.collect { case (name, true) => name }
    assert(offenders.isEmpty,
      s"row-scale cartesian product planned in: ${offenders.mkString(", ")}")
  }

  test("PlanDump counts the outer final plan's exchanges by operator name") {
    // a ReusedExchange line quotes the exchange it reuses, and the
    // initial plan repeats every exchange: neither may be counted
    val text =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   ResultQueryStage 3
        |   +- *(3) Sort [k#1 ASC NULLS FIRST], true, 0
        |      +- ShuffleQueryStage 2
        |         +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=50]
        |            +- *(2) BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false
        |               :- *(2) HashAggregate(keys=[k#1], functions=[count(1)])
        |               :  +- ShuffleQueryStage 0
        |               :     +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
        |               :        +- Exchange RoundRobinPartitioning(3), REPARTITION_BY_NUM, [plan_id=5]
        |               +- BroadcastQueryStage 1
        |                  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=30]
        |                     +- ReusedExchange [k#2], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=10]
        |+- == Initial Plan ==
        |   Sort [k#1 ASC NULLS FIRST], true, 0
        |   +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=20]
        |""".stripMargin
    assert(graft.tools.PlanDump.exchangeCounts(text) == ((4, 1, 1)))
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 100, 1, 2).repartition(3)
      .groupBy((col("id") % 5).as("k")).count()
    df.collect()
    assert(graft.tools.PlanDump.exchangeCounts(
      df.queryExecution.executedPlan.toString) == ((2, 0, 1)))
  }

  test("PlanDump sums the bytes of each shuffle stage once") {
    import org.apache.spark.sql.functions.col
    import graft.tools.PlanDump.shuffleBytes
    val narrow = spark.range(0, 100, 1, 2).filter(col("id") > 3)
    narrow.collect()
    assert(shuffleBytes(narrow.queryExecution.executedPlan) == 0L)
    val once = spark.range(0, 1000, 1, 2).repartition(3, col("id"))
      .groupBy((col("id") % 5).as("k")).count()
    once.collect()
    val bytes = shuffleBytes(once.queryExecution.executedPlan)
    assert(bytes > 0L)
    // the second branch reads both stages of the first as a reused
    // exchange, so the plan writes what `once` wrote
    val twice = once.union(once)
    twice.collect()
    val plan = twice.queryExecution.executedPlan
    assert(plan.toString.contains("ReusedExchange"), plan)
    assert(shuffleBytes(plan) == bytes)
  }
}
