package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-side at-scale invariants for the two gate queries whose DuckDB
  * oracles are intractable at the 100× events/facts stage (r9/r10
  * directive; CORRECTNESS_ev100.json records the exclusion):
  *
  *  - `q_event_resample`: the grid oracle would unnest ~6.3 B rows — but
  *    every output column has a closed form at EVENT scale. Per user:
  *    n_minutes = last−first+1 (the grid spans first..last event
  *    minute), n_event_minutes = distinct event minutes, n_gap_filled =
  *    n_minutes − n_event_minutes (forward-fill is non-null everywhere
  *    past the first grid minute, which is an event minute), and
  *    final_value = the per-minute DECIMAL sum at the user's last
  *    active minute. This re-derivation shares NO operator with the
  *    gate query (two plain groupBys, no window, no explode), so an
  *    exact full-output join against it is a complete independent
  *    check of all ~1 M user rows at 100×.
  *
  *  - `q_graph_pagerank`: a 118 M-edge × 3-iteration join chain in
  *    DuckDB — checked instead by the algebra the power iteration must
  *    satisfy: (a) rank mass is conserved at Σr = 1 (the doubled
  *    bipartite graph has no dangling nodes: each step redistributes
  *    all mass, then 0.15/0.85 mixes with uniform); (b) the node count
  *    the ranks are scaled by equals distinct parts + distinct
  *    suppliers counted directly off lineitem; (c) every rank ≥ the
  *    teleport base 0.15/n; (d) the broadcast-rank and shuffle-hash
  *    rank-join strategies produce the IDENTICAL top-20 (DECIMAL(38,18)
  *    summation makes the value order-independent, so any divergence is
  *    a real partitioning/strategy bug, not float noise).
  *
  * Usage: runMain graft.tools.ScaleInvariants <sfDir> <outJson>
  * Emits one JSON object; every `*_ok` field must be true.
  */
object ScaleInvariants {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_ev100")
    val outJson = if (args.length > 1) args(1) else "/tmp/invariants.json"
    val spark = graft.Bench.session()

    // ---- q_event_resample ------------------------------------------------
    // The closed-form re-derivation below counts n_event_minutes as
    // count(*) per (user, minute) group, while the gate query counts only
    // minutes whose per-minute SUM is non-null — identical ONLY when
    // events.value has no nulls. Assert that up front so a future
    // data-gen change surfaces as this explicit failure, not a confusing
    // invariant mismatch (ADVICE r11).
    val t0 = System.nanoTime()
    val nullValues = graft.Tables.events(spark, sfDir)
      .filter(col("value").isNull).count()
    require(nullValues == 0L,
      s"resample invariant assumes non-null events.value; found $nullValues nulls")
    val got = graft.ops.Relational4.qEventResample(spark, sfDir)
    val e = graft.Tables.events(spark, sfDir)
      .withColumn("minute", expr("unix_timestamp(ts) div 60"))
    val perMin = e.groupBy(col("user_id"), col("minute"))
      .agg(sum(col("value").cast(DecimalType(12, 2))).cast("double").as("v"))
    val want = perMin.groupBy(col("user_id"))
      .agg((max(col("minute")) - min(col("minute")) + 1).as("n_minutes"),
        count(lit(1)).as("n_event_minutes"),
        (max(col("minute")) - min(col("minute")) + 1 - count(lit(1)))
          .as("n_gap_filled"),
        max_by(col("v"), col("minute")).as("final_value"))
    val joined = got.alias("g").join(want.alias("w"), Seq("user_id"), "full")
    val users = joined.count()
    val mismatches = joined.filter(
      col("g.n_minutes").isNull || col("w.n_minutes").isNull ||
      col("g.n_minutes") =!= col("w.n_minutes") ||
      col("g.n_event_minutes") =!= col("w.n_event_minutes") ||
      col("g.n_gap_filled") =!= col("w.n_gap_filled") ||
      col("g.final_value") =!= col("w.final_value")).count()
    val tResample = (System.nanoTime() - t0) / 1e9

    // ---- q_graph_pagerank ------------------------------------------------
    val t1 = System.nanoTime()
    val li = graft.Tables.lineitem(spark, sfDir)
    val nExpected = li.agg(
      (countDistinct(col("l_partkey")) + countDistinct(col("l_suppkey")))
        .as("n")).head().getLong(0)
    val e0 = li.select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    val edges = e0.select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .union(e0.select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
    val (ranks, pins) = graft.ops.Graph.pagerankWithPins(edges, 3)
    val stats = ranks.agg(
      sum(col("r").cast(DecimalType(38, 18))).cast("double").as("mass"),
      min(col("r")).as("rmin"), count(lit(1)).as("n"),
      max(col("n_nodes")).as("n_rep")).head()
    val (mass, rmin, nRanked, nReported) =
      (stats.getDouble(0), stats.getDouble(1), stats.getLong(2), stats.getLong(3))
    pins.foreach(graft.ops.Checkpoints.release)
    val tMass = (System.nanoTime() - t1) / 1e9

    // strategy A/B: the gate lane (broadcast ranks) vs the co-partitioned
    // fallback must select the identical rounded top-20
    val t2 = System.nanoTime()
    def top20(bcast: Boolean): Seq[(Long, Double)] = {
      val (r, p) = graft.ops.Graph.pagerankWithPins(edges, 3,
        broadcastRanks = bcast)
      val rows = r
        .select(col("node"),
          round(col("r") * col("n_nodes").cast("double"), 6).as("rs"))
        .orderBy(col("rs").desc, col("node").asc).limit(20)
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      p.foreach(graft.ops.Checkpoints.release)
      rows
    }
    val (ta, tb) = (top20(bcast = true), top20(bcast = false))
    val tAb = (System.nanoTime() - t2) / 1e9

    val base = 0.15 / nExpected
    val massDev = math.abs(mass - 1.0)
    val out =
      s"""{"dir":"$sfDir",
         |"resample":{"users":$users,"mismatch_users":$mismatches,
         |  "ok":${mismatches == 0 && users > 0},"secs":${f"$tResample%.1f"}},
         |"pagerank":{
         |  "n_nodes_expected":$nExpected,"n_nodes_reported":$nReported,
         |  "n_ranked":$nRanked,
         |  "nodes_ok":${nExpected == nReported && nExpected == nRanked},
         |  "rank_mass":$mass,"mass_dev":$massDev,"mass_ok":${massDev < 1e-9},
         |  "min_rank":$rmin,"teleport_base":$base,"min_ok":${rmin >= base - 1e-18},
         |  "ab_top20_ok":${ta == tb},"secs":${f"${tMass + tAb}%.1f"}}}"""
        .stripMargin.replace("\n", "")
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (out + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
