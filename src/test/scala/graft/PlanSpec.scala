package graft

import graft.ops.{Relational, Relational2, Sim}

/** Physical-plan assertions: the properties that decide whether a query
  * survives a 100× scale-up — filter/column pushdown into the parquet
  * scan, dimension broadcasts, map-side partial aggregation, per-partition
  * top-k — pinned here so a refactor can't silently regress them.
  */
class PlanSpec extends SparkTestBase {

  /** Execute first so AQE finalizes the plan (codegen ids and the chosen
    * join strategies only appear in the final adaptive plan).
    */
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // count() would plan its own agg; collect runs THIS plan
    df.queryExecution.executedPlan.toString
  }

  test("filter+projection are pushed into the parquet scan") {
    val p = plan(Relational.qFilterProject(spark, sfDir))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,45.0)"),
      s"quantity filter not pushed:\n${p.take(1500)}")
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "scan reads columns the query never uses")
  }

  test("star join broadcasts the dimension tables") {
    val p = plan(Relational.qJoinNationRevenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n${p.take(1500)}")
  }

  test("q1 aggregate has a map-side partial phase") {
    val p = plan(Relational.q1PricingSummary(spark, sfDir))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"no partial aggregation:\n${p.take(1500)}")
  }

  test("top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.qTopKCustomers(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n${p.take(1500)}")
  }

  test("q3: filters pushed on all three inputs, top-10 without global sort") {
    val p = plan(Relational.q3Shipping(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n${p.take(1500)}")
    assert(p.contains("EqualTo(c_mktsegment,MACHINERY)"),
      "segment filter must reach the customer scan")
    assert(p.contains("LessThan(o_orderdate,") &&
      p.contains("GreaterThan(l_shipdate,"),
      "date filters must reach the orders/lineitem scans")
    assert(p.contains("BroadcastHashJoin"),
      "filtered customer side should broadcast")
  }

  test("resample's pinned exchange is activation-bounded (r14 cliff fix)") {
    import graft.ops.Relational4.activationWaves
    // waves = clamp(1..8, inputBytes / (parts · 512 KB)) — the lever
    // that bounds the OSR-starvation blast radius to ~1/waves of the
    // stage (SCALE.md §round-14): gate scales are a no-op, the ev100
    // events table (110 MB) gets 6 waves, the cap holds at huge inputs
    assert(activationWaves(BigInt(2L << 20), 32) == 1, "sf0.1-scale no-op")
    assert(activationWaves(BigInt(110L << 20), 32) == 6, "ev100 events")
    assert(activationWaves(BigInt(10L << 30), 32) == 8, "wave cap")
    assert(activationWaves(BigInt(0), 32) == 1, "floor")
    // and at the gate scale the plan really is unchanged: the pinned
    // exchange carries exactly spark.sql.shuffle.partitions
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = graft.ops.Relational4.qEventResample(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(("""RepartitionByExpression \[user_id[^\]]*\], """ + parts + "\\b")
        .r.findFirstIn(p).isDefined,
      s"gate-scale resample must keep $parts pinned partitions:\n" +
        p.linesIterator.filter(_.contains("Repartition")).mkString("\n"))
  }

  test("global sort is range-partitioned, not single-reducer") {
    // the reference's global sort funnels everything through ONE reducer
    // (grep pattern, SURVEY §2b); ours must be a range-partitioned
    // parallel sort — every partition sorts its key range independently
    val df = graft.Tables.lineitem(spark, sfDir)
      .orderBy(org.apache.spark.sql.functions.col("l_extendedprice"))
    val p = plan(df)
    assert(p.contains("rangepartitioning"),
      s"global sort must use range partitioning:\n${p.take(1500)}")
  }

  test("range join broadcasts the band table (nested loop on tiny side)") {
    val p = plan(Relational2.qRangeJoin(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"band table not broadcast:\n${p.take(1500)}")
  }

  test("similarity scan reads only the needed columns") {
    val p = plan(Sim.qSimTopK(spark, sfDir))
    assert(!p.contains("label"), "embeddings scan reads unused label column")
  }

  test("whole-stage codegen covers the hot aggregation path") {
    // codegen stages print as "*(n) Operator" in the final adaptive plan
    val p = plan(Relational.q1PricingSummary(spark, sfDir))
    assert(p.contains("*(1) HashAggregate") || p.contains("WholeStageCodegen"),
      s"aggregation not inside a codegen stage:\n${p.take(1000)}")
  }

  test("merge hint flips the customer join to sort-merge") {
    val p = plan(graft.ops.Relational7.qJoinHinted(spark, sfDir))
    assert(p.contains("SortMergeJoin"),
      s"merge hint ignored (expected SortMergeJoin):\n${p.take(1500)}")
  }

  test("partition-column filter prunes the partitioned scan") {
    val p = plan(graft.ops.Relational7.qPartitionPruning(spark, sfDir))
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"no partition filter on the partitioned read:\n${p.take(1500)}")
  }

  test("batch ANN: queries broadcast, top-k partially aggregated map-side") {
    val p = plan(graft.ops.Sim2.qSimBatchTopK(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n${p.take(1500)}")
    // the bounded Aggregator must run partial-then-final: two
    // ObjectHashAggregate nodes around the exchange, so the shuffle
    // carries O(queries·k) state rows, not every scored pair
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"no partial object aggregation:\n${p.take(1500)}")
  }

  test("bloom prefilter probe is codegen'd on the fact scan") {
    // the probe must be the native BloomFilterMightContain predicate
    // INSIDE a whole-stage-codegen span ("*(n) Filter ... might_contain")
    // — a Scala-UDF probe would print as a bare Filter with
    // BatchEvalPython/invoke glue and break the span right where the
    // operator is supposed to be cheap
    val p = plan(graft.ops.Pipeline.qBloomJoin(spark, sfDir))
    assert(p.contains("might_contain"),
      s"bloom probe expression missing from the plan:\n${p.take(1500)}")
    assert("""\*\(\d+\) Filter [^\n]*might_contain""".r.findFirstIn(p).isDefined,
      s"bloom probe filter not inside whole-stage codegen:\n${p.take(2000)}")
  }

  test("heavy-hitter sketch prefilter is codegen'd on the token stream") {
    // the CMS estimate must be builtin expressions (xxhash64 +
    // element_at on literal arrays) inside a whole-stage-codegen Filter
    // — the same no-UDF rule the bloom lane enforces: a Scala-UDF
    // estimate would break the span on the one stage that must be cheap
    val p = plan(graft.ops.HeavyHitters.qHeavyHitters(spark, sfDir))
    assert(p.contains("xxhash64"),
      s"sketch hash expression missing from the plan:\n${p.take(1500)}")
    assert("""\*\(\d+\) Filter [^\n]*element_at""".r.findFirstIn(p).isDefined,
      s"sketch estimate filter not inside whole-stage codegen:\n${p.take(2000)}")
  }

  test("pagerank iteration: ranks broadcast, edge list never shuffles") {
    // the gate entry materializes eagerly (bounded 20-row collect, then
    // pin release) — inspect the lazy plan it executes
    val p = plan(graft.ops.Graph.pagerankTop20(spark, sfDir)._1)
    assert(p.contains("BroadcastHashJoin"),
      s"rank frame not broadcast into the edge join:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"edge list shuffled for a join (expected broadcast-only):\n${p.take(1500)}")
  }

  test("dedup-quality pair join is merge, never broadcast (10x cliff pin)") {
    // BOTH sides of the candidates×jaccard join are pair-scale (they
    // grow together with the near-dup mass); at 10x replication AQE's
    // estimates picked a broadcast here and the ~250k-pair build side
    // blew past spark.driver.maxResultSize (GATE_10X.md §1). The merge
    // hint is the fix — pin it so a refactor can't drop it.
    val p = plan(graft.ops.Dedup.qDedupQuality(spark, sfDir))
    assert(p.contains("SortMergeJoin LeftOuter") ||
      (p.contains("SortMergeJoin") && p.contains("LeftOuter")),
      s"pair join is not a left-outer sort-merge:\n${p.take(2000)}")
  }
}
