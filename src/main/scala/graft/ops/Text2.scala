package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-statistics operators beyond per-document scoring: association
  * measures over the whole token stream. First resident: PMI collocation
  * extraction — the classic vocabulary-induction / tokenizer-merge-rule
  * signal (a BPE-style pipeline ranks exactly these adjacent-pair
  * statistics).
  */
object Text2 {

  /** Pointwise mutual information of adjacent token pairs:
    * pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) over the bigram
    * stream and p(·) over the unigram stream. Emitted for pairs seen ≥ 3
    * times, top 15 by PMI (ties: a asc, b asc).
    *
    * Shape at scale: ONE tokenize pass feeds both count tables (bigrams
    * via an index-sequence transform — no self-join on position);
    * unigram counts are O(vocabulary) and join the bigram table on each
    * side as shuffle joins (vocabularies outgrow broadcasts at corpus
    * scale); the two scalar totals
    * broadcast as 1-row frames. The min-count filter runs BEFORE the
    * joins, so the expensive side of the join is the (rare) surviving
    * pairs, not the full bigram distribution.
    *
    * PMI arithmetic is double division/log in oracle-identical operation
    * order, rounded to 6 decimals.
    */
  def qPmiBigrams(spark: SparkSession, dir: String): DataFrame =
    pmiBigramsOf(Tables.documentsSpread(spark, dir), minCount = 3, k = 15)

  /** Same operator over any frame with a `text` column.
    *
    * Building it runs Spark jobs: eager `localCheckpoint`s pin the
    * unigram and bigram count tables on the executors when this method
    * is called, not when the returned frame runs. The pinned snapshots
    * live in executor block storage with their lineage cut, so losing
    * an executor that holds a block fails the query instead of
    * recomputing it.
    */
  def pmiBigramsOf(docs: DataFrame, minCount: Int, k: Int): DataFrame = {
    val toks = docs
      .withColumn("w", split(lower(col("text")), " ", -1))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bg = toks.select(explode(expr(
        """CASE WHEN size(w) >= 2 THEN
          |  transform(sequence(1, size(w) - 1),
          |    i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))
          |ELSE CAST(NULL AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"""
          .stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // Eager localCheckpoints (r19): uni fans out THREE ways (the a-side
    // join, the b-side join, the 1-row total) and cab TWO ways (the
    // pair filter, its total), and column pruning breaks exchange reuse
    // between some copies — the r19 executed plan ran the tokenize
    // three times and the count aggregates once per consumer
    // (plans/r19/q_pmi_bigrams_before_exec.txt). Both frames are
    // TYPE-scale (vocabulary / bigram types), tiny next to the token
    // stream they aggregate, so one materialization each collapses the
    // query to its two inherent tokenize passes (unigrams, bigrams).
    // Same-session A/B at sf0.1: 1.27 -> 1.11 s, results ==.
    val uniCk = uni.localCheckpoint(true)
    val cab = bg.groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .localCheckpoint(true)
    val totU = uniCk.agg(sum(col("c1")).as("u"))
    val totB = cab.agg(sum(col("cab")).as("nb"))
    // both sides are TYPE-scale (bigram types x unigram types) and grow
    // with a real corpus's vocabulary; the unigram side is the smaller,
    // so it is pinned as the per-partition shuffle_hash build side
    // rather than trusting a size estimate near the broadcast threshold
    // (r12 policy, SCALE.md)
    cab.filter(col("cab") >= minCount)
      .join(uniCk.select(col("tok").as("a"), col("c1").as("ca"))
        .hint("shuffle_hash"), "a")
      .join(uniCk.select(col("tok").as("b"), col("c1").as("cb"))
        .hint("shuffle_hash"), "b")
      .crossJoin(broadcast(totU))
      .crossJoin(broadcast(totB))
      .select(col("a"), col("b"), col("cab"),
        round(log((col("cab").cast("double") / col("nb").cast("double")) /
          ((col("ca").cast("double") / col("u").cast("double")) *
           (col("cb").cast("double") / col("u").cast("double")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(k)
  }

  /** Corpus-trained unigram language-model scoring: every document gets
    * its add-one-smoothed mean token log-probability — the classic
    * cheap fluency/quality signal (boilerplate and gibberish score far
    * from the corpus mode; the scores feed quality-threshold filtering
    * the same way a real LM perplexity would, without needing a model).
    *
    * Shape at scale: one tokenize pass; the vocabulary table is
    * O(word types) and joins the token stream on the token key — a
    * shuffle join, since corpus-scale vocabularies outgrow broadcasts
    * (same rationale as [[qPmiBigrams]]); per-document sums are exact
    * DECIMAL(12,6) over PRE-ROUNDED log-probs, so summation order can
    * never matter and the oracle hash-matches. Stop-word skew on the
    * token join is real at 100 TB — the AQE skew-join split handles it
    * (the key space is huge and only a handful of keys are hot).
    */
  def qUnigramLm(spark: SparkSession, dir: String): DataFrame =
    unigramLmScores(Tables.documentsSpread(spark, dir))

  /** Same scorer over any frame with (doc_id, text).
    *
    * Building it runs Spark jobs: an eager `localCheckpoint` pins the
    * vocabulary count table on the executors when this method is
    * called, not when the returned frame runs. The pinned
    * snapshot lives in executor block storage with its lineage cut, so
    * losing an executor that holds a block fails the query instead of
    * recomputing it.
    */
  def unigramLmScores(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(col("w") =!= "")
    // Eager localCheckpoint (r19): vocab fans out to the 1-row totals
    // AND the lp projection — the r19 executed plan ran the vocabulary
    // aggregate once per consumer over a shared token exchange
    // (plans/r19/q_unigram_lm_before_exec.txt). The vocabulary is
    // O(word types): materializing it once costs almost nothing, runs
    // the aggregate once, and leaves the query its two inherent
    // tokenize passes (vocabulary build, per-token probe). Local A/B
    // is a wash at sf0.1; the saved aggregate is vocabulary-scale work
    // per extra consumer at 100 TB.
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = vocab.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("v"))
    // log-prob per TYPE (not token): rounded to 6 before the per-doc
    // exact-decimal sum, so both engines add identical quantities.
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        round(log((col("c") + 1).cast("double") /
          (col("n_total") + col("v")).cast("double")), 6)
          .cast("decimal(12,6)").as("lp"))
    // The toks⋈lp strategy is PINNED shuffle_hash (r12): toks is
    // token-scale by design, and AQE intermittently flipped to
    // broadcasting IT (BuildLeft over a driver-built token-scale
    // HashedRelation, lp coalesced to one partition) when its
    // compressed map-output estimate (HighlyCompressedMapStatus
    // quantization) dipped under the adaptive broadcast threshold —
    // measured 3.3 s normal vs 20–28 s
    // flipped at the combined 100× stage. Same class and same fix as
    // the salted join (`ops/Skew.scala`); tfidf had it too until its
    // single-pass rewrite left it no row-scale join (`Text.tfidfTopOf`).
    // shuffle_hash builds the vocab side per partition, the shape that
    // also holds when a real vocabulary outgrows broadcast budgets.
    //
    // The mean is rounded in INTEGER arithmetic (micro-units, half away
    // from zero), never via round() on a double quotient: an exact
    // decimal sum divided by a token count can land exactly on a
    // half-boundary (measured at sf0.1: -210.926201/62 = -3.4020355),
    // where Spark's BigDecimal HALF_UP on the true double and DuckDB's
    // multiply-then-round disagree. floor-div of positive integers is
    // engine-exact; the final /1e6 is one IEEE division on both sides.
    toks.join(lp.hint("shuffle_hash"), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("lp")) * 1000000).cast("long").as("m"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("CASE WHEN m < 0 THEN -1L ELSE 1L END") *
          expr("(abs(m) * 2 + n_tokens) div (n_tokens * 2)"))
          .cast("double").divide(lit(1000000.0)).as("avg_logp"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_unigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE w <> ''),
        |vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
        |tot AS (
        |  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM vocab) AS n_total,
        |         (SELECT COUNT(*) FROM vocab) AS v),
        |lp AS (
        |  SELECT w,
        |    CAST(round(ln(CAST(c + 1 AS DOUBLE) /
        |      CAST(n_total + v AS DOUBLE)), 6) AS DECIMAL(12,6)) AS lp
        |  FROM vocab CROSS JOIN tot)
        |SELECT doc_id, n_tokens,
        |  CAST((CASE WHEN m < 0 THEN -1 ELSE 1 END)
        |    * ((abs(m) * 2 + n_tokens) // (n_tokens * 2)) AS DOUBLE)
        |    / 1000000.0 AS avg_logp
        |FROM (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(lp) * 1000000 AS BIGINT) AS m
        |  FROM toks JOIN lp USING (w)
        |  GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_pmi_bigrams" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(w) AS tok,
        |    generate_subscripts(w, 1) AS pos
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
        |        FROM documents)),
        |uni AS (SELECT tok, COUNT(*) AS c1 FROM t GROUP BY tok),
        |bg AS (
        |  SELECT x.tok AS a, y.tok AS b
        |  FROM t x JOIN t y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
        |cab AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b),
        |tot AS (
        |  SELECT (SELECT CAST(SUM(c1) AS BIGINT) FROM uni) AS u,
        |         (SELECT CAST(SUM(cab) AS BIGINT) FROM cab) AS nb)
        |SELECT c.a, c.b, c.cab,
        |  round(ln((CAST(c.cab AS DOUBLE) / CAST(tot.nb AS DOUBLE)) /
        |    ((CAST(ua.c1 AS DOUBLE) / CAST(tot.u AS DOUBLE)) *
        |     (CAST(ub.c1 AS DOUBLE) / CAST(tot.u AS DOUBLE)))), 6) AS pmi
        |FROM cab c
        |JOIN uni ua ON ua.tok = c.a
        |JOIN uni ub ON ub.tok = c.b
        |CROSS JOIN tot
        |WHERE c.cab >= 3
        |ORDER BY pmi DESC, c.a ASC, c.b ASC LIMIT 15""".stripMargin,
  )
}
