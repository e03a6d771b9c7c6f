package graft

import org.apache.spark.sql.functions._

import graft.functions.TopKAggregator

/** The bounded-state top-k Aggregator must agree with the window-function
  * formulation (which shuffles every row; the Aggregator shuffles k per
  * group per partition).
  */
class AggregatorSpec extends SparkTestBase {

  test("TopKAggregator == window row_number top-3 per customer") {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as[Long], col("o_orderkey").as[Long],
        col("o_totalprice").as[Double])
      .as[(Long, Long, Double)]

    val topk = new TopKAggregator(3).toColumn
    val got = orders
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk.name("top"))
      .collect()
      .map { case (cust, hits) => cust -> hits.toList }
      .toMap

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val want = Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey").as[Long], col("o_orderkey").as[Long],
        col("o_totalprice").as[Double], col("rn").as[Int])
      .collect()
      .groupBy(_._1)
      .map { case (c, rows) =>
        c -> rows.sortBy(_._4).map(r => (r._2, r._3)).toList
      }

    assert(got.keySet == want.keySet)
    got.foreach { case (c, hits) => assert(hits == want(c), s"customer $c") }
  }

  test("few-groups window top-k plans a PARTIAL WindowGroupLimit") {
    // q_sample_weighted / q_ngram_top keep the declarative row_number +
    // rk<=k form BECAUSE Catalyst's rank-limit pushdown bounds it: a
    // partial WindowGroupLimit keeps <= k candidates per map partition
    // per group before the exchange, so no task ever sorts a whole
    // stratum — the property a hand-built bounded Aggregator would buy,
    // without its typed-encoding cost (measured flat 1x->500x on a
    // single hot stratum; SCALE.md §per-group top-k audit). If an operator change or
    // a Spark upgrade ever drops the pushdown, this pin fails and the
    // query must move to the TopKAggregator shape.
    for (q <- Seq("q_sample_weighted", "q_ngram_top")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$q lost the rank-limit pushdown:\n$plan")
      assert(plan.contains("Partial"),
        s"$q WindowGroupLimit is not partial (map-side):\n$plan")
    }
  }

  test("dedup resolve: canonical is the component minimum") {
    val labels = graft.ops.Dedup.qDedupResolve(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = graft.ops.Dedup.qDedupMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.nonEmpty)
    // both endpoints of every candidate edge resolve to the same canonical
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across components")
    }
    // canonical is a member of the component and is its minimum
    labels.groupBy(_._2).foreach { case (root, members) =>
      assert(members.keySet.min == root)
    }
  }

  test("driver union-find and distributed propagation agree") {
    val pairs = graft.ops.Dedup.qDedupMinhash(spark, sfDir)
      .select("doc_a", "doc_b")
    val viaDriver = graft.ops.Dedup
      .resolveComponents(spark, pairs, driverThreshold = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = graft.ops.Dedup
      .resolveComponents(spark, pairs, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop && viaDriver.nonEmpty)
  }
}
