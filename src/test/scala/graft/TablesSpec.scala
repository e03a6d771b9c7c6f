package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** `Tables.spread`: an under-split scan is hash-partitioned on its row
  * key, so a key-grouped aggregate on top of it plans no second
  * exchange; an already-split frame passes through untouched.
  */
class TablesSpec extends SparkTestBase {

  private def target = spark.sparkContext.defaultParallelism

  /** Every operator of a plan, through AQE wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    nodes(p).collect { case e: ShuffleExchangeLike => e }

  private def assertKeyed(df: DataFrame, key: String): Unit = {
    val ex = shuffles(df.queryExecution.sparkPlan)
    assert(ex.length == 1, s"expected the spread's exchange only:\n$ex")
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == target)
        assert(h.expressions.flatMap(_.references.map(_.name)) == Seq(key))
      case other => fail(s"spread is not keyed on $key: $other")
    }
    assert(df.rdd.getNumPartitions == target)
  }

  test("an under-split scan is hash-partitioned on its row key") {
    assert(Tables.documents(spark, sfDir).rdd.getNumPartitions * 2 <= target,
      "fixture no longer under-split")
    assertKeyed(Tables.documentsSpread(spark, sfDir), "doc_id")
    assertKeyed(Tables.embeddingsSpread(spark, sfDir), "vec_id")
  }

  test("an already-split frame comes back unchanged, with no exchange") {
    val df = spark.range(0, 100, 1, target).toDF("id")
    assert(Tables.spread(spark, df, "id") eq df)
  }

  test("a doc_id aggregate on the spread reuses its exchange") {
    val df = Tables.documentsSpread(spark, sfDir).groupBy("doc_id").count()
    assert(df.collect().length == Tables.documents(spark, sfDir).count())
    val plan = df.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val ex = shuffles(plan)
    assert(ex.length == 1, s"expected one exchange:\n$plan")
    assert(!ex.exists(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]),
      s"round-robin exchange left in the plan:\n$plan")
  }
}
