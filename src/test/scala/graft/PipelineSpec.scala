package graft

import org.apache.spark.sql.functions._

import graft.ops.Pipeline

/** Semantic invariants for the training-pipeline composites, beyond
  * the DuckDB oracle equality the gate checks.
  */
class PipelineSpec extends SparkTestBase {

  test("packing conserves tokens and numbers sequences contiguously") {
    val packed = Pipeline.qPackSequences(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"),
        ceil(length(col("text")) / 4.0).cast("long").as("toks"))
      .groupBy("source").agg(sum("toks").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = packed.groupBy(_.getString(0))
    bySource.foreach { case (src, rows) =>
      // every token lands in exactly one sequence
      assert(rows.map(_.getLong(3)).sum == docs(src),
        s"token totals must be conserved for $src")
      // seq ids are 0..n-1 with no gaps (the stream is contiguous)
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.toSeq == (0L until ids.length).toSeq,
        s"sequence ids must be contiguous for $src")
      rows.foreach(r => assert(r.getLong(2) >= 1))
    }
    // doc ranges of consecutive sequences must not interleave
    bySource.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getLong(1))
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) <= b.getLong(4))
        case _ =>
      }
    }
  }

  test("hash split is stable, disjoint, and complete") {
    val once = Pipeline.withSplit(Tables.documents(spark, sfDir))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val again = Pipeline.withSplit(
      Tables.documents(spark, sfDir).repartition(7))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once == again, "split must be independent of partitioning")
    val n = once.size
    val frac = once.values.groupBy(identity).map { case (k, v) =>
      k -> v.size.toDouble / n }
    assert(frac("train") > 0.8 && frac("train") < 0.97)
    assert(once.values.forall(Set("train", "val", "test")))
  }

  test("source mixing: binding source saturates, rates deterministic") {
    val docs = Tables.documents(spark, sfDir)
    val mixed = ops.Pipeline.mixSourcesOf(docs).collect()
    assert(mixed.nonEmpty)
    val rates = mixed.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates.values.forall(r => r > 0 && r <= 1000))
    // the binding source's floor(1000·R·w/t) is 1000 up to fp rounding
    assert(rates.values.max >= 999,
      s"binding source must keep ~everything: $rates")
    // deterministic under repartitioning (the reproducibility contract)
    val again = ops.Pipeline.mixSourcesOf(docs.repartition(13)).collect()
    assert(mixed.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("incremental dedup: new <= batch, unique <= new") {
    Pipeline.qDedupIncremental(spark, sfDir).collect().foreach { r =>
      val (batch, nu, uniq) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nu <= batch && uniq <= nu)
    }
  }

  test("merge audit partitions the merged rowset") {
    val r = Pipeline.qMergeUpsert(spark, sfDir).collect().head
    assert(r.getLong(0) == r.getLong(1) + r.getLong(2) + r.getLong(3))
    assert(r.getLong(1) > 0 && r.getLong(2) > 0 && r.getLong(3) > 0)
  }

  test("profile: one row per column, counts partition the table") {
    val n = Tables.lineitem(spark, sfDir).count()
    val prof = ops.Profile.profileOf(Tables.lineitem(spark, sfDir),
      Seq("l_quantity", "l_discount")).collect()
    assert(prof.length == 2)
    prof.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == n, "n_values + n_nulls == n")
      assert(r.getLong(3) <= r.getLong(1), "distinct <= non-null")
      assert(r.getDouble(4) <= r.getDouble(5), "min <= max")
    }
  }

  test("constraints fire on bad data and stay zero on clean data") {
    val clean = ops.Profile.qConstraints(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean.values.forall(_ == 0L), s"clean batch must report zeros: $clean")
    // truncate orders -> orphan lineitem keys must be counted
    val li = Tables.lineitem(spark, sfDir)
    val halfOrders = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 2 === 0)
    val fired = ops.Profile.constraintsOf(li, halfOrders).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedOrphans = li
      .join(halfOrders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count()
    assert(fired("orderkey_orphan") == expectedOrphans && expectedOrphans > 0)
  }

  test("sketch union is lossless: merged shards == direct sketch") {
    val li = Tables.lineitem(spark, sfDir)
    val merged = li.groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_partkey"), 12).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val direct = li
      .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), 12)).as("est"))
      .collect().head.getLong(0)
    assert(merged == direct,
      "unioning per-shard sketches must equal sketching all rows")
    val row = ops.Profile.qSketchUnion(spark, sfDir).collect().head
    assert(row.getBoolean(2), "union estimate must be within 2% of exact")
  }

  test("bloom prefilter never changes the join result") {
    val li = Tables.lineitem(spark, sfDir)
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val plain = li
      .join(urgent, col("l_orderkey") === col("o_orderkey")).count()
    val filtered = Pipeline
      .bloomPrefilter(li, "l_orderkey", urgent, "o_orderkey", 100000L)
      .join(urgent, col("l_orderkey") === col("o_orderkey")).count()
    assert(plain == filtered, "false positives must be removed by the join")
    // and the prefilter actually prunes fact rows before the join
    val kept = Pipeline
      .bloomPrefilter(li, "l_orderkey", urgent, "o_orderkey", 100000L)
      .count()
    assert(kept < li.count(), "prefilter should drop non-matching rows")
  }

  test("corpus diff partitions both snapshots and counts match set algebra") {
    val docs = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val got = Pipeline.qCorpusDiff(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (added, removed, changed, unchanged) =
      got.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4))
    // set algebra over the deterministic derivation
    assert(added == docs.count(_ % 11 == 0))
    assert(removed == docs.count(_ % 7 == 0))
    assert(changed == docs.count(d => d % 7 != 0 && d % 5 == 0))
    assert(unchanged == docs.count(d => d % 7 != 0 && d % 5 != 0))
  }
}
