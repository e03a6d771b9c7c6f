package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Training-data pipeline composites: the operations that sit BETWEEN
  * the per-doc analysis lane and a training run — packing documents
  * into fixed-token-budget sequences, deterministic train/val/test
  * splits, incremental dedup of a new batch against an existing corpus,
  * keyed latest-wins upsert, and bloom-pre-filtered joins.
  *
  * Scale notes per operator are on each method; the common thread is
  * that every shuffle key here is either a natural partition (source,
  * split, join key) or a bounded synthetic one — nothing requires a
  * global order over the corpus.
  */
object Pipeline {

  /** Token budget per packed training sequence (chars/4 estimator —
    * the same `est_llm_tokens` the token-count op reports).
    */
  val PackBudget = 2048L

  /** Concat-and-chunk sequence packing: within each source shard, docs
    * are laid end-to-end in doc_id order and the token stream is cut
    * every `budget` tokens; a doc belongs to the sequence its first
    * token lands in. Output is per-sequence stats. This is the packing
    * strategy LLM pretraining actually uses (contiguous stream, no
    * bin-packing search), and it needs NO global sort: the window
    * partitions by source, so at 100 TB each shard's cumulative sum is
    * an independent partition-local pass — skew is bounded by shard
    * size, and a pathologically large shard would be sub-sharded by a
    * second partition key (e.g. file) with the same arithmetic.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesOf(Tables.documents(spark, dir), PackBudget)

  /** Same operator over any (doc_id, source, text) frame. */
  def packSequencesOf(docs: DataFrame, budget: Long): DataFrame = {
    val preceding = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("source"), col("doc_id"),
        ceil(length(col("text")) / 4.0).cast("long").as("toks"))
      .withColumn("off", coalesce(sum(col("toks")).over(preceding), lit(0L)))
      .withColumn("seq_id", floor(col("off") / budget).cast("long"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "seq_id")
  }

  /** Deterministic hash split: md5(doc_id) → bucket 0..99 → 90/5/5
    * train/val/test. Hash-based (not random) so the assignment is
    * stable under reruns, re-partitioning, and corpus growth — the only
    * property a reproducible training split needs. The bucket is the
    * same engine-agnostic Horner arithmetic the MinHash lane uses, so
    * the oracle reproduces it digit-for-digit. Output: per (split,
    * source) doc and token counts. Narrow per-row hash + one partial-
    * aggregated groupBy on a 6-ish-key space — nothing to shuffle but
    * partial states.
    */
  def qSplitTrain(spark: SparkSession, dir: String): DataFrame =
    splitCountsOf(Tables.documents(spark, dir))

  /** Per-doc split assignment over any (doc_id, ...) frame (adds a
    * `split` column).
    */
  def withSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("m", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("bucket", expr(s"(${Dedup.hornerH("m")}) % 100"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END"))
      .drop("m", "bucket")

  def splitCountsOf(docs: DataFrame): DataFrame =
    withSplit(docs)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil(length(col("text")) / 4.0).cast("long")).as("n_tokens"))
      .orderBy("split", "source")

  /** Source mixing — rebalance a multi-source corpus to target mixture
    * weights (per-mille, from the source index: 400/300/200/100) by
    * DOWN-sampling only: the binding source (smallest tokens/weight
    * ratio) sets the achievable budget, every other source's per-mille
    * keep-rate follows as floor(1000·R·w/t), and membership is the
    * md5-derived per-doc draw — reproducible across runs, engines, and
    * partitionings, like all sampling here. Cost: one token aggregate
    * (O(sources) rows), a broadcast of the rate table, one narrow
    * filter pass. No upsampling: repeating docs to hit a weight is a
    * training-time concern (epochs per source), not a data-prep one.
    */
  def qMixSources(spark: SparkSession, dir: String): DataFrame =
    mixSourcesOf(Tables.documents(spark, dir))

  /** Same operator over any (doc_id, source, text) frame. */
  def mixSourcesOf(docs: DataFrame): DataFrame = {
    val weighted = docs
      .withColumn("toks", ceil(length(col("text")) / 4.0).cast("long"))
      .withColumn("w_pm", expr(MixWeightSql))
    val perSource = weighted.groupBy(col("source"), col("w_pm"))
      .agg(sum(col("toks")).as("t_s"))
    val bind = perSource.agg(
      min(col("t_s").cast("double") / col("w_pm")).as("r"))
    val rates = perSource.crossJoin(broadcast(bind))
      .withColumn("rate_pm",
        floor(lit(1000.0) * col("r") * col("w_pm") / col("t_s")).cast("long"))
      .select(col("source"), col("rate_pm"))
    val draw = Text.sampleDraw("CAST(CAST(doc_id AS STRING) AS BINARY)")
    weighted.join(broadcast(rates), "source")
      .filter(expr(s"($draw) < rate_pm"))
      .groupBy(col("source"), col("rate_pm"))
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tokens_kept"))
      .orderBy("source")
  }

  private val MixWeightSql =
    "CASE CAST(substr(source, 4) AS BIGINT) % 4 " +
      "WHEN 0 THEN 400 WHEN 1 THEN 300 WHEN 2 THEN 200 ELSE 100 END"

  /** Incremental dedup: a new batch (doc_id % 10 = 0 models the
    * incoming shard) is fingerprinted and anti-joined against the
    * existing corpus's distinct fingerprints — the nightly-ingest shape
    * where you never re-cluster the whole corpus. The corpus side
    * reduces to distinct md5s (64 hex chars/doc) BEFORE the join, so
    * the shuffle carries fingerprints, not documents; the anti-join is
    * a plain hash join on the fingerprint key. Reports, per source, the
    * batch size, how many batch docs are new vs the corpus, and how
    * many distinct new contents arrived.
    */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .withColumn("fp", Dedup.exactFp(col("text")))
    incrementalOf(
      fp.filter(col("doc_id") % 10 =!= 0),
      fp.filter(col("doc_id") % 10 === 0))
  }

  /** Same operator over any corpus/batch frames carrying (source, fp). */
  def incrementalOf(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val fresh = batch
      // the distinct-fingerprint side is corpus-scale by design (one md5
      // per distinct document): pinned so AQE can never decide to build
      // it on the driver off a wobbling compressed estimate (r12 policy)
      .join(corpus.select(col("fp")).distinct().hint("shuffle_hash"),
        Seq("fp"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_new"),
        count_distinct(col("fp")).as("n_new_unique"))
    batch.groupBy(col("source")).agg(count(lit(1)).as("n_batch"))
      .join(fresh, Seq("source"), "left")
      .select(col("source"), col("n_batch"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_new_unique"), lit(0L)).as("n_new_unique"))
      .orderBy("source")
  }

  /** Keyed latest-wins upsert (MERGE INTO semantics) via one full outer
    * join: updates (o_orderkey % 2 = 0, price bumped) merge into the
    * base (o_orderkey % 3 ≠ 0); an update to an existing key wins,
    * unmatched updates insert, unmatched base rows persist. The join is
    * the whole cost — one shuffle by key on each side (or a broadcast
    * when the update batch is small, the common nightly case). Output
    * is a one-row audit: rows updated / inserted / unchanged + the
    * merged count and DECIMAL-summed price total.
    */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    mergeAudit(
      o.filter(col("o_orderkey") % 3 =!= 0),
      o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0))
  }

  /** Full-outer merge of updates into base on o_orderkey; audit row. */
  def mergeAudit(base: DataFrame, updates: DataFrame): DataFrame = {
    val merged = base.as("b")
      .join(updates.as("u"),
        col("b.o_orderkey") === col("u.o_orderkey"), "full_outer")
      .select(
        when(col("u.o_orderkey").isNotNull && col("b.o_orderkey").isNotNull,
          "updated")
          .when(col("b.o_orderkey").isNull, "inserted")
          .otherwise("unchanged").as("action"),
        coalesce(col("u.o_totalprice"), col("b.o_totalprice")).as("price"))
    merged.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("action") === "updated", 1L).otherwise(0L)).as("n_updated"),
      sum(when(col("action") === "inserted", 1L).otherwise(0L)).as("n_inserted"),
      sum(when(col("action") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
      sum(col("price").cast(DecimalType(18, 2))).cast("double").as("total_price"))
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: compare
    * two corpus snapshots by doc_id with a content fingerprint and
    * report, per source, how many documents were added, removed,
    * changed, and unchanged between versions. Snapshot B derives
    * deterministically from A (doc_id % 7 == 0 removed; % 5 == 0
    * edited in place; % 11 == 0 re-appended under a shifted id range)
    * so the oracle reproduces it exactly. One full-outer join on
    * doc_id — the upsert audit's single-shuffle shape, but
    * CONTENT-addressed: "changed" is the md5 fingerprint moving, which
    * catches in-place edits a key diff cannot; both sides reduce to
    * (id, source, 16-byte fp) before the shuffle, so the join never
    * moves document bodies.
    */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val a = docs.select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("fp"))
    val bKept = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"),
        md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).cast("binary")).as("fp"))
    val bAdded = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        md5(concat(col("text"), lit(" new")).cast("binary")).as("fp"))
    val b = bKept.unionAll(bAdded)
    a.as("a").join(b.as("b"), col("a.doc_id") === col("b.doc_id"),
        "full_outer")
      .select(coalesce(col("a.source"), col("b.source")).as("source"),
        when(col("a.doc_id").isNull, "added")
          .when(col("b.doc_id").isNull, "removed")
          .when(col("a.fp") =!= col("b.fp"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy("source")
  }

  /** Bloom-pre-filtered join: build a bloom filter over the (selective)
    * dim side's join keys, broadcast it, and drop fact rows that cannot
    * match BEFORE the join shuffle — the manual form of Spark's runtime
    * row-level filtering, exposed as an operator so a pipeline can
    * apply it to any selective join. False positives only cost work:
    * the real join afterwards makes the result exact, so the oracle is
    * the plain join. At 100 TB this is the difference between shuffling
    * the whole fact table and shuffling the ~matching slice; the filter
    * itself is a few MB broadcast once per executor.
    *
    * The merge-join hint models the at-scale plan (the dim side is
    * small here and would broadcast, hiding the very shuffle the bloom
    * filter exists to shrink).
    */
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val li = bloomPrefilter(
      Tables.lineitem(spark, dir), "l_orderkey",
      urgent, "o_orderkey", 1000000L)
    li.join(urgent.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Filter `fact` to rows whose `factKey` might appear in `dim`'s
    * `dimKey` set (`expectedKeys` sizes the filter for ~1% fpp).
    * Returns the filtered fact — compose with the actual join for
    * exact results.
    *
    * Built entirely from Spark's own runtime-row-level-filtering
    * expressions, the same shape `InjectRuntimeFilter` plans: the dim
    * side aggregates `bloom_filter_agg(xxhash64(key))` distributed
    * (map-side partial filters OR-merged), the one-row binary rides to
    * the fact side as a foldable literal, and the probe is the native
    * `BloomFilterMightContain` — a codegen'd predicate, so the fact
    * scan + filter stay inside one whole-stage-codegen span
    * (`PlanSpec` pins this) with no closure serialization and no UDF
    * black box blocking later pushdown. xxhash64 on BOTH sides keeps
    * build and probe hashing identical for any key type.
    *
    * Building it runs a Spark job: the filter over `dim` is aggregated
    * and fetched with `head` when this method is called, not when the
    * returned frame runs. A later change to `dim` is not seen by the
    * returned frame.
    */
  def bloomPrefilter(fact: DataFrame, factKey: String,
    dim: DataFrame, dimKey: String, expectedKeys: Long): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(fact.sparkSession)
    // optimal bits for 1% fpp: m = -n ln p / (ln 2)^2 = 9.585 n
    val numBits = math.max(64L, math.ceil(expectedKeys * 9.585).toLong)
    val bf = dim
      .select(expr(s"bloom_filter_agg(xxhash64($dimKey), " +
        s"CAST($expectedKeys AS BIGINT), CAST($numBits AS BIGINT))").as("bf"))
      .head.getAs[Array[Byte]]("bf")
    if (bf == null) fact.filter(lit(false)) // empty dim: nothing can match
    else fact.filter(call_function("might_contain", lit(bf),
      xxhash64(col(factKey))))
  }

  val oracles: Map[String, String] = Map(
    "q_corpus_diff" ->
      """WITH a AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        |b0 AS (SELECT doc_id, source,
        |         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp
        |       FROM documents WHERE doc_id % 7 <> 0),
        |badd AS (SELECT doc_id + 1000000 AS doc_id, source, md5(text || ' new') AS fp
        |         FROM documents WHERE doc_id % 11 = 0),
        |b AS (SELECT * FROM b0 UNION ALL SELECT * FROM badd),
        |j AS (SELECT COALESCE(a.source, b.source) AS source,
        |        CASE WHEN a.doc_id IS NULL THEN 'added'
        |             WHEN b.doc_id IS NULL THEN 'removed'
        |             WHEN a.fp <> b.fp THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM a FULL JOIN b ON a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(ceil(length(text)/4.0) AS BIGINT) AS toks
         |  FROM documents),
         |o AS (
         |  SELECT source, doc_id, toks,
         |    COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM t)
         |SELECT source, CAST(floor(off/$PackBudget) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM o GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin,
    "q_split_train" ->
      s"""WITH b AS (
         |  SELECT source, text,
         |    (${Dedup.hornerH("md5(CAST(doc_id AS VARCHAR))")}) % 100 AS bucket
         |  FROM documents)
         |SELECT CASE WHEN bucket < 90 THEN 'train'
         |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
         |  source, COUNT(*) AS n_docs,
         |  CAST(SUM(CAST(ceil(length(text)/4.0) AS BIGINT)) AS BIGINT) AS n_tokens
         |FROM b GROUP BY split, source ORDER BY split, source""".stripMargin,
    "q_mix_sources" -> {
      val draw = Text.sampleDraw("CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(ceil(length(text)/4.0) AS BIGINT) AS toks,
         |    $MixWeightSql AS w_pm
         |  FROM documents),
         |per_source AS (
         |  SELECT source, w_pm, CAST(SUM(toks) AS BIGINT) AS t_s
         |  FROM t GROUP BY source, w_pm),
         |bind AS (
         |  SELECT MIN(CAST(t_s AS DOUBLE) / w_pm) AS r FROM per_source),
         |rates AS (
         |  SELECT source,
         |    CAST(floor(1000.0 * r * w_pm / t_s) AS BIGINT) AS rate_pm
         |  FROM per_source CROSS JOIN bind)
         |SELECT t.source, rates.rate_pm, COUNT(*) AS n_kept,
         |  CAST(SUM(toks) AS BIGINT) AS tokens_kept
         |FROM t JOIN rates ON rates.source = t.source
         |WHERE ($draw) < rate_pm
         |GROUP BY t.source, rates.rate_pm ORDER BY t.source""".stripMargin
    },
    "q_dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |  FROM documents),
        |corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0),
        |batch AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
        |fresh AS (
        |  SELECT b.source, COUNT(*) AS n_new,
        |    COUNT(DISTINCT b.fp) AS n_new_unique
        |  FROM batch b WHERE NOT EXISTS
        |    (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        |  GROUP BY b.source)
        |SELECT b.source, COUNT(*) AS n_batch,
        |  COALESCE(ANY_VALUE(f.n_new), 0) AS n_new,
        |  COALESCE(ANY_VALUE(f.n_new_unique), 0) AS n_new_unique
        |FROM batch b LEFT JOIN fresh f ON f.source = b.source
        |GROUP BY b.source ORDER BY b.source""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |m AS (
        |  SELECT
        |    CASE WHEN u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
        |           THEN 'updated'
        |         WHEN b.o_orderkey IS NULL THEN 'inserted'
        |         ELSE 'unchanged' END AS action,
        |    COALESCE(u.o_totalprice, b.o_totalprice) AS price
        |  FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN action = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  CAST(SUM(CASE WHEN action = 'inserted' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        |  CAST(SUM(CASE WHEN action = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM m""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
