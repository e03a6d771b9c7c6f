package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Iterative graph analytics as plain DataFrame loops — the lane the
  * dedup connected-components resolver opened, generalized to weighted
  * propagation. No graph library: edges are a DataFrame, one iteration
  * is join + aggregate, and Catalyst plans each step like any other
  * query (AQE included). The determinism recipe for cross-engine
  * equality of an ITERATIVE double computation: per-edge contributions
  * divide in IEEE double (same inputs → same bits on both engines),
  * each aggregation sums in DECIMAL(38,18) so accumulation order cannot
  * matter, and only the final ranks round.
  */
object Graph {

  /** PageRank (d = 0.85) over an arbitrary directed edge list, as the
    * Pregel-as-joins loop. Returns (node, r) after `iters` iterations;
    * assumes every node has in- and out-edges (no dangling-mass
    * correction), which the bipartite doubled edge list guarantees.
    *
    * Knobs — the two cluster-deployment decisions, parameterized so
    * specs and probes exercise BOTH sides of each:
    *
    * `reliableCheckpoint`: the edge list and degree table are
    * materialized once before the loop (each iteration would otherwise
    * replan and re-shuffle the whole derivation chain — measured
    * 7.9 s → 5.2 s at sf0.1). `false` = columnar Dataset cache
    * (`persist(MEMORY_AND_DISK)` — compressed CachedBatches, spills
    * instead of OOM; recompute-on-eviction is deterministic so results
    * cannot drift); `true` = reliable `checkpoint()` to the configured
    * checkpoint dir, which survives executor loss — the cluster
    * setting, same trade the CC resolver documents. Requires
    * `sc.setCheckpointDir`. The local arm was `localCheckpoint` until
    * an r15 campaign session died here: localCheckpoint stores row
    * OBJECTS (deserialized, unspillable unroll vectors), ~10× the
    * columnar footprint, and at the 100× facts stage (118 M doubled
    * edges, 32 concurrent unrolling tasks) that sat close enough to
    * the 32 g heap that scheduling noise tipped one session into a
    * storage-unroll OOM which killed the whole SparkContext
    * (SCALE.md §the bounded-shape cliff campaign, round 15). The cache keeps the same
    * replan-avoidance (Catalyst swaps in InMemoryRelation) with a
    * bounded 10 k-row unroll per batch.
    *
    * `broadcastRanks`: ranks are O(nodes) — broadcast them (`true`) so
    * the edge list never shuffles for the join; only the per-
    * destination aggregate exchanges. When the node table outgrows a
    * broadcast, `false` forces the co-partitioned fallback (a
    * shuffle-hash join of edges and ranks on the node key — the
    * classic Pregel shape, edges shuffling once per iteration per
    * direction); results are identical by construction and the
    * PageRank join-strategy gap in SCALE.md records the cost.
    */
  def pagerank(edgesIn: DataFrame, iters: Int,
    reliableCheckpoint: Boolean = false,
    broadcastRanks: Boolean = true): DataFrame =
    pagerankWithPins(edgesIn, iters, reliableCheckpoint, broadcastRanks)._1

  /** [[pagerank]] plus the frames it pinned (edge list + degree table),
    * so a caller that MATERIALIZES the answer can release their storage
    * blocks ([[Checkpoints.release]]) instead of leaking an O(edges)
    * deserialized block set per invocation — which is what back-to-back
    * full-gate passes at the 100× events stage did until the second
    * pass OOM'd.
    */
  def pagerankWithPins(edgesIn: DataFrame, iters: Int,
    reliableCheckpoint: Boolean = false,
    broadcastRanks: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    def pin(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint()
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgesRaw = pin(edgesIn.select(col("src"), col("dst")))
    val deg = pin(edgesRaw.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d")))
    val n = deg.count()
    // Pre-attach each edge's SOURCE DEGREE to the pinned edge list (the
    // classic out-degree-on-edge Pregel layout, one join at setup): the
    // per-iteration r⋈deg join disappears — each iteration is now just
    // edges ⋈ broadcast(ranks) + one aggregate exchange, which removes
    // one join + its exchange/broadcast build from EVERY iteration
    // (r18 optimization; guide §2.4 "remove shuffles outright").
    // Numerically identical by construction: w = r/d divides the same
    // doubles per edge as the old per-node division, and the DECIMAL
    // summation is order-free. The degree side follows the ranks knob
    // (deg is O(nodes), same scale bound as the rank broadcast).
    val degSide = if (broadcastRanks) broadcast(deg) else deg.hint("shuffle_hash")
    val edges = pin(edgesRaw.join(degSide, edgesRaw("src") === deg("node"))
      .select(col("src"), col("dst"), col("d")))
    edges.count() // materialize before releasing the raw pin
    Checkpoints.release(edgesRaw)
    val base = 0.15 / n // same IEEE division the oracle performs
    var r = deg.select(col("node"), lit(1.0 / n).as("r"))
    for (_ <- 1 to iters) {
      val w = if (broadcastRanks) broadcast(r) else r.hint("shuffle_hash")
      r = edges.join(w, edges("src") === w("node"))
        .groupBy(col("dst").as("node"))
        .agg((lit(base) + lit(0.85) *
          sum((col("r") / col("d").cast("double")).cast(DecimalType(38, 18)))
            .cast("double")).as("r"))
    }
    (r.withColumn("n_nodes", lit(n)), Seq(edges, deg))
  }

  /** The part↔supplier bipartite edge list induced by lineitem:
    * distinct (partkey, suppkey) pairs, both directions, so every node
    * has in- and out-edges.
    */
  def bipartiteEdges(spark: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    e0.select(concat(lit("p:"), col("p")).as("src"),
        concat(lit("s:"), col("s")).as("dst"))
      .union(e0.select(concat(lit("s:"), col("s")).as("src"),
        concat(lit("p:"), col("p")).as("dst")))
  }

  /** The gate query's LAZY plan (plan-inspectable — `PlanSpec` and
    * `PlanDump` read this; the gate entry materializes it): numeric
    * node keys END-TO-END. A node is `partkey*2` (parts) or
    * `suppkey*2+1` (suppliers) — 8-byte join/agg keys through all three
    * iterations and a far smaller edge pin, decoded to the oracle's
    * `p:`/`s:` string labels only in the final 20-row projection
    * (BEFORE the rank-then-node ordering, so the string tie-break
    * matches the oracle exactly). At the 100× facts stage (59 M
    * distinct pairs → 118 M doubled edges) the string-keyed form spent
    * 102–159 s; every byte of "p:<id>" rode the pin, three joins, and
    * three aggregations. Rank VALUES are untouched: same graph, same
    * degrees, same DECIMAL(38,18) summation — only the key encoding
    * changes, so the gate hash is unchanged by construction.
    * Returns the frame plus the pinned edge/degree frames for
    * post-materialization release.
    */
  private[graft] def pagerankTop20(spark: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val e0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    val edges = e0.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .union(e0.select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
    val (r, pins) = pagerankWithPins(edges, 3)
    val id = expr("CAST(node DIV 2 AS BIGINT)") // truncating div: works for both parities
    val out = r
      .select(
        when(col("node") % 2 === 0, concat(lit("p:"), id))
          .otherwise(concat(lit("s:"), id)).as("node"),
        round(col("r") * col("n_nodes").cast("double"), 6).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node").asc)
      .limit(20)
    (out, pins)
  }

  /** 3-iteration PageRank over the part↔supplier graph (see
    * [[pagerankTop20]] for the plan). Ranks are reported scaled by N
    * (≈1 for an average node) and rounded to 6 decimals BEFORE the
    * top-20 selection, ties broken by node label — both engines
    * therefore select the identical list. The gate entry materializes
    * the BOUNDED 20-row answer eagerly (TakeOrderedAndProject collects
    * exactly 20 rows — the same sanctioned-collect class as BPE's 1-row
    * argmax) and then releases the pinned edge/degree blocks: the
    * returned frame must not depend on truncated-lineage storage, and
    * per-call O(edges) pins must not outlive the call (two full-gate
    * passes at 100× facts OOM'd on exactly that accumulation).
    */
  def qGraphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val (out, pins) = pagerankTop20(spark, dir)
    val rows = out.collect().toSeq
    pins.foreach(Checkpoints.release)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, out.schema)
  }

  val oracles: Map[String, String] = Map(
    "q_graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |edges AS (
        |  SELECT 'p:' || p AS src, 's:' || s AS dst FROM e0
        |  UNION ALL
        |  SELECT 's:' || s AS src, 'p:' || p AS dst FROM e0),
        |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
        |nn AS (SELECT COUNT(*) AS n FROM deg),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM deg, nn),
        |r1 AS (
        |  SELECT e.dst AS node,
        |    CAST(0.15 AS DOUBLE) / MIN(nn.n) + CAST(0.85 AS DOUBLE) *
        |      CAST(SUM(CAST(r.r / d.d AS DECIMAL(38,18))) AS DOUBLE) AS r
        |  FROM edges e
        |  JOIN r0 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.node
        |  CROSS JOIN nn GROUP BY e.dst),
        |r2 AS (
        |  SELECT e.dst AS node,
        |    CAST(0.15 AS DOUBLE) / MIN(nn.n) + CAST(0.85 AS DOUBLE) *
        |      CAST(SUM(CAST(r.r / d.d AS DECIMAL(38,18))) AS DOUBLE) AS r
        |  FROM edges e
        |  JOIN r1 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.node
        |  CROSS JOIN nn GROUP BY e.dst),
        |r3 AS (
        |  SELECT e.dst AS node,
        |    CAST(0.15 AS DOUBLE) / MIN(nn.n) + CAST(0.85 AS DOUBLE) *
        |      CAST(SUM(CAST(r.r / d.d AS DECIMAL(38,18))) AS DOUBLE) AS r
        |  FROM edges e
        |  JOIN r2 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.node
        |  CROSS JOIN nn GROUP BY e.dst)
        |SELECT node,
        |  round(r * (SELECT CAST(n AS DOUBLE) FROM nn), 6) AS rank_scaled
        |FROM r3
        |ORDER BY rank_scaled DESC, node ASC LIMIT 20""".stripMargin,
  )
}
