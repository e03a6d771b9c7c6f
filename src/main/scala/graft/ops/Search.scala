package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus search + sampling operators the reference's query surface and a
  * training-data pipeline both want next after dedup/quality: exact
  * duplicated-substring detection (the ExactSubstr dedup of Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models Better"),
  * BM25 full-text ranking (the retrieval scorer behind corpus search /
  * decontamination lookups), and Efraimidis–Spirakis weighted sampling
  * without replacement (the deterministic data-mixing primitive).
  *
  * All three are declarative DataFrame plans — narrow token explodes,
  * hash-partitioned aggregates, windows keyed by document — so Catalyst
  * keeps them in whole-stage codegen and every shuffle is on a key that
  * scales with the corpus (gram, doc_id, source), never on a constant.
  */
object Search {

  // ---------------------------------------------------------------- substr

  /** Exact duplicated-substring spans, ExactSubstr-style: find every
    * maximal token range of length ≥ L (= 8 here) whose L-token gram
    * occurs at least twice in the corpus (across documents OR repeated
    * within one — both are training-data duplication), and report per
    * document the merged span count and total duplicated-token coverage.
    *
    * Shape, all linear in corpus tokens:
    *  1. build each position's L-gram INSIDE the document's token array
    *     (transform + posexplode — see [[tokenGrams]]): zero shuffles
    *     and zero sorts before a gram exists; the count side and the
    *     probe side each run the scan+assemble independently (two cheap
    *     column-pruned scans instead of shuffling and double-sorting
    *     the exploded token stream, which is strictly more bytes).
    *  2. gram → count ≥ 2 ("posting list with df ≥ 2"), LEFT SEMI join
    *     back to positions on the gram key — a semi join cannot fan out
    *     on hot grams (a gram appearing 10⁶ times marks 10⁶ positions,
    *     it does not build a 10¹²-pair product — the same df-blowup the
    *     dedup lanes cap).
    *  3. islands-and-gaps merge per document: a duplicated position
    *     within L of its predecessor extends the current span
    *     (overlap-or-adjacent ⟺ pos − prev ≤ L), else starts a new one —
    *     `lag` + running `sum` over the (doc_id, pos) window, then one
    *     aggregate per span and one per doc.
    *
    * At 100 TB the only change is hashing the gram text (xxhash64/md5)
    * before the groupBy so shuffle rows are 8 bytes, not L words — the
    * plan is identical; grams stay exact here so the DuckDB oracle can
    * reproduce them verbatim.
    */
  def qDedupSubstr(spark: SparkSession, dir: String): DataFrame =
    substrSpansOf(Tables.documentsSpread(spark, dir), 8)

  /** (doc_id, pos, gram): the L-token gram starting at each 1-based
    * token position — built INSIDE the document's token array
    * (transform over an index sequence, constant O(L) element_at reads
    * per position) and only then exploded. The former shape exploded
    * tokens first and assembled grams with L−1 `lead` windows, which
    * shuffled AND sorted the entire token stream by (doc_id, pos)
    * before a single gram existed — a full extra exchange of the
    * corpus at 100 TB (r18; guide §2.4). Same-session A/B at sf0.1:
    * window 2.16/1.83 s vs array 1.65/1.57 s warm, identical output
    * (the qFingerprintRolling 50× trap is about re-HASHING a slice per
    * position vs a rolling hash — gram ASSEMBLY is O(L) per position
    * in both shapes, so nothing is recomputed here). Off-end positions
    * never exist: the index sequence stops at size(w) − L + 1, the
    * same rows the old isNotNull guard kept.
    */
  private[ops] def tokenGrams(docs: DataFrame, L: Int): DataFrame = {
    // L=1 would collapse the gram to its own token through the public
    // substrSpans/decontaminate surface with silently-shifted
    // semantics, so reject it outright (same contract as before).
    require(L >= 2, s"gram length must be >= 2 tokens, got $L")
    val grams = (0 until L).map(j => s"element_at(w, i + $j)")
      .mkString("concat_ws(' ', ", ", ", ")")
    docs
      .withColumn("w", split(lower(col("text")), " ", -1))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(w) >= $L THEN
           |  transform(sequence(1, size(w) - ${L - 1}), i -> $grams)
           |ELSE array() END""".stripMargin)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
  }

  /** Same operator over any (doc_id, text, ...) frame; grams of `L` tokens.
    *
    * The semi join's `dup` side is PINNED shuffle_hash (r12 policy,
    * SCALE.md): `dup` is the distinct-repeated-gram table — flat under
    * synthetic replication (replicas add no new grams; the planner was
    * observed broadcasting it at the combined 100× stage), but it grows
    * with a REAL corpus's size and outgrows any broadcast budget, and a
    * runtime size estimate must never be what decides. shuffle_hash
    * builds dup per partition off the same gram-keyed exchange the
    * membership probe shuffles on.
    */
  def substrSpansOf(docs: DataFrame, L: Int): DataFrame = {
    val grams = tokenGrams(docs, L)
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("gram"))
    val dupPos = grams.join(dup.hint("shuffle_hash"), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wp) <= L, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum(col("brk"))
        .over(wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s0"), (max(col("pos")) + (L - 1)).as("s1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("s1") - col("s0") + 1).cast("long").as("dup_tokens"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------ bm25

  private val bm25Terms = Seq("spark", "filter", "stream")
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** The corpus the BM25 lanes read: spread round-robin, not by doc_id.
    * [[bm25Of]]'s per-doc aggregate has two readers (the 1-row stats and
    * the scoring side). Over a doc_id spread it needs no exchange, so
    * nothing holds it and each reader re-tokenizes the corpus from the
    * spread; round-robin keeps the aggregate's own exchange, which both
    * readers reuse (`TextPlanSpec` pins the single tokenize pass).
    */
  private def lexicalDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))

  /** BM25 top-10 ranking of the corpus for a fixed term set — the
    * full-text retrieval scorer (Robertson/Sparck Jones; the "+1" IDF of
    * Lucene so scores stay positive). One tokenize pass: per-term tf
    * rides the SAME groupBy(doc_id) that counts doc length (conditional
    * aggregation over the small literal term set), corpus stats and
    * per-term df come out of one 1-row broadcast aggregate — see
    * [[bm25Of]] for the shape. Final top-k is orderBy+limit →
    * TakeOrderedAndProject (per-partition heap + driver merge of k rows,
    * never a global sort).
    *
    * Both engines compute the score with the same expression tree over
    * the same exact integers (tf, df, dl, N), rounded to 6 decimals
    * after the sum — the q_tfidf_top precedent for cross-engine double
    * equality, and the ordering uses the rounded score so rank ties
    * break identically (doc_id asc).
    */
  def qBm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Of(lexicalDocs(spark, dir), bm25Terms, 10)

  /** Same operator over any (doc_id, text, ...) frame.
    *
    * Single-pass shape (r18 optimization; guide §2.3 "aggregate before
    * you shuffle" / §2.4 "remove shuffles outright"): the old plan
    * tokenized the corpus twice (a dl branch and a term-filtered tf
    * branch — different subtrees, so the exchange could not be reused)
    * and re-joined tf⋈df⋈dl. Because the query's term set is a small
    * literal list, per-term tf is CONDITIONAL AGGREGATION in the same
    * groupBy(doc_id) that counts dl — one tokenize pass, one map-side-
    * combined exchange, no doc-scale join at all. The corpus stats
    * (N, avgdl) AND every per-term df come out of one 1-row aggregate
    * over the per-doc frame (its exchange is reused for the scoring
    * read), broadcast back. tf/df/dl/N are the identical integers the
    * old plan produced and the score expression tree is unchanged per
    * term, so scores are bit-equal; zero-tf terms contribute an exact
    * +0.0. At 100 TB this halves the token-stream scans and removes the
    * tf⋈dl shuffle the old plan pinned shuffle_hash (nothing left to
    * pin — the only join is the 1-row stats broadcast).
    */
  def bm25Of(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ", -1)).as("w"))
      .filter(col("w") =!= "")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$i") }
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = terms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val statsAgg = Seq(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++ dfCols
    val stats = perDoc.agg(statsAgg.head, statsAgg.tail: _*)
    // per-term score, zero when the term is absent — the same expression
    // tree per present term as the old per-row form (same types: tf, df,
    // dl, n LONG; avgdl DOUBLE), summed in fixed term order
    def sCol(i: Int) = when(col(s"tf_$i") > 0,
      log(lit(1.0) +
          (col("n") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
        * (col(s"tf_$i") * lit(bm25K1 + 1.0))
        / (col(s"tf_$i") + lit(bm25K1) *
            (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
      .otherwise(lit(0.0))
    val nTerms = terms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    perDoc
      .withColumn("n_terms", nTerms)
      .filter(col("n_terms") > 0)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(terms.indices.map(sCol).reduce(_ + _), 6).as("bm25"),
        col("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
  }

  // ------------------------------------------------------- hybrid retrieval

  /** Hybrid retrieval: the BM25 lexical lane and the dense
    * embedding-cosine lane fused by reciprocal-rank fusion
    * (Cormack/Clarke/Buettcher 2009): rrf(d) = Σ_lanes 1/(60 + rank_d).
    * RRF works purely in RANK space, so the two lanes never need
    * commensurable scores — which is also what makes the operator
    * scale-clean: each lane ends in orderBy+limit
    * (TakeOrderedAndProject, per-partition heap — never a global sort),
    * and the fusion itself is a full-outer join of two ≤laneK-row
    * frames. The expensive work is entirely inside the lanes, both of
    * which are the repo's proven at-scale shapes; at 100 TB the dense
    * lane swaps to the IVF/LSH probe unchanged because fusion only sees
    * ranks.
    *
    * doc_id ≡ vec_id is the generator contract (same identification
    * `Curate.qCorpusCurate` uses for its semantic-dedup drop). vec 0 is
    * the query vector, so doc 0 is excluded from BOTH lanes — the
    * lexical corpus stats (N, avgdl) are computed on the 0-free corpus,
    * mirrored exactly in the oracle. Ranks are row_number over each
    * lane's ROUNDED score (6 dp) with doc_id tie-break, so rank
    * assignment cannot diverge on engine-specific last-ulp summation
    * order; the windows run AFTER the limit, over ≤laneK rows — bounded
    * by construction, not a row-scale global window. Missing-lane ranks
    * surface as 0 (real ranks are 1-based) so the output stays
    * non-null BIGINT in both engines.
    */
  def qHybridSearch(spark: SparkSession, dir: String): DataFrame =
    hybridSearchOf(
      lexicalDocs(spark, dir),
      Tables.embeddingsSpread(spark, dir), bm25Terms, laneK = 20, k = 10)

  /** Same operator over any (doc_id, text) corpus + (vec_id, embedding)
    * table whose vec `queryId` is the query vector. The doc_id ≡ vec_id
    * query row is excluded from BOTH lanes HERE (r13 ADVICE fix: the
    * dense lane always dropped the query vector, but the lexical lane
    * used to rely on the caller pre-filtering the query doc — a raw
    * corpus would have ranked the query document lexically but never
    * semantically, skewing the fusion and the BM25 corpus stats
    * N/avgdl). `queryId` is parameterized (r14 ADVICE: hardcoding 0
    * silently dropped a legitimate non-query doc 0 from lexical
    * ranking); the gate queries keep the generator's vec-0 contract. */
  def hybridSearchOf(rawDocs: DataFrame, emb: DataFrame, terms: Seq[String],
      laneK: Int, k: Int, queryId: Long = 0L): DataFrame =
    rrfFuse(lexLaneOf(rawDocs, terms, laneK, queryId),
      semRank(bruteCosTopK(emb, laneK, queryId)), k)

  /** The composite that PROVES the scaladoc's swap claim: the dense lane
    * is the IVF probe answered from the AT-REST list-partitioned layout
    * ([[Sim.ivfPrunedTopK]] — nprobe=3 lists, metadata-pruned files)
    * instead of the brute full-corpus pass, fused by the identical RRF.
    * Rank-space fusion never sees scores, so swapping the scorer touches
    * nothing else — the oracle replays the IVF quantizer + probe exactly
    * (shared CTEs with q_sim_ivf) and the fused output hash-matches.
    * This is the 100 TB deployment shape: the lexical lane shuffles only
    * term-filtered tokens, the dense lane reads ~nprobe/k of the corpus.
    */
  def qHybridSearchIvf(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(
      lexLaneOf(lexicalDocs(spark, dir), bm25Terms, laneK = 20),
      semRank(Sim.ivfPrunedTopK(spark, dir, k = 20)),
      k = 10)

  /** BM25 lane: top-laneK docs ranked 1..laneK in rank space. Excludes
    * the query-doc row (see [[hybridSearchOf]]'s contract). */
  private def lexLaneOf(rawDocs: DataFrame, terms: Seq[String],
      laneK: Int, queryId: Long = 0L): DataFrame =
    bm25Of(rawDocs.filter(col("doc_id") =!= queryId), terms, laneK)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast("bigint"))
      .select(col("doc_id"), col("lex_rank"))

  /** Brute dense lane: exact cosine of every vector against the query
    * vector. */
  private def bruteCosTopK(emb: DataFrame, laneK: Int,
      queryId: Long = 0L): DataFrame = {
    val e = emb.withColumn("nrm", Sim.normExpr(col("embedding")))
    val q = broadcast(e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm")))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"),
        round(Sim.cosineFromParts(
          col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(laneK)
  }

  /** Rank any (vec_id, cos_sim) lane result 1..n — runs AFTER the lane's
    * limit, over ≤laneK rows (bounded by construction, not a row-scale
    * global window). */
  private def semRank(scored: DataFrame): DataFrame =
    scored
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("bigint"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))

  /** Reciprocal-rank fusion of two ≤laneK-row rank frames. */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int): DataFrame = {
    val rrfK = 60
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        when(col("lex_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / (lit(rrfK) + col("lex_rank"))) +
        when(col("sem_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / (lit(rrfK) + col("sem_rank"))), 6))
      .select(col("doc_id"), col("rrf"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0L)).as("sem_rank"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }

  // -------------------------------------------------- weighted sampling

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement: per
    * source, keep the k = 5 documents with the largest u^(1/w) where w
    * is the document's char count and u a uniform draw — equivalently
    * the largest ln(u)/w, which is what both engines compute. The draw
    * is the md5-derived integer already proven engine-exact by
    * q_sample_stratified (not RNG: at corpus scale a re-run MUST
    * resample identically), shifted to (0,1) as (draw+1)/1002 so ln is
    * finite. One narrow pass computes keys; the per-source top-k is a
    * window row_number + `rk <= k` filter — which Catalyst rewrites to
    * a PARTIAL `WindowGroupLimit` (rank-limit pushdown): each map
    * partition keeps only its k best rows per source BEFORE the
    * exchange, so the shuffle carries O(partitions·k) rows per stratum
    * and no task ever sorts a whole source, even with few sources at
    * 100 TB. Plan-pinned in `AggregatorSpec`; measured flat 1×→500× on
    * a single hot stratum (SCALE.md §per-group top-k audit), matching the
    * hand-built bounded Aggregator within noise — the declarative form
    * wins because the optimizer already implements the bounded-heap
    * shape without the typed-encoding cost (1.7 s vs 3.3 s at the 100×
    * text stage).
    */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir),
      group = "source", id = "doc_id", weight = "n_chars", k = 5)
      .orderBy("source", "rk")

  /** Same operator over any frame: per `group`, the `k` rows with the
    * largest E-S key ln(u)/`weight` where u derives from md5(`id`) —
    * weight must be a positive integral column, id a LONG.
    */
  def weightedSample(df: DataFrame, group: String, id: String,
    weight: String, k: Int): DataFrame = {
    val draw = Text.sampleDraw(s"CAST(CAST($id AS STRING) AS BINARY)")
    // The key is rounded to the emitted precision BEFORE ranking (with
    // id as tiebreak) — ordering by the raw double would let a
    // cross-engine ln() ULP difference at the rank-k boundary select
    // different rows; the q_tfidf_top/bm25 precedent.
    val w = Window.partitionBy(col(group))
      .orderBy(col("es_key").desc, col(id).asc)
    df
      .withColumn("es_key",
        round(expr(s"ln((($draw) + 1) / 1002.0) / $weight"), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(group), col("rk"), col(id), col(weight), col("es_key"))
  }

  // -------------------------------------------------------- decontaminate

  /** Cross-corpus n-gram decontamination (the GPT-3/PaLM eval-leakage
    * method, generalizing q_contamination's fixed probe phrases): treat
    * every doc_id % 10 == 0 document as the held-out benchmark, the rest
    * as the training corpus, and flag every training document sharing at
    * least one 8-token gram with any benchmark document — with the count
    * of distinct leaked grams and the fraction of the doc's gram
    * positions covered by them.
    *
    * Shape: benchmark grams reduce to DISTINCT before the join (the
    * benchmark is small — a real deployment broadcasts it; here it
    * stays a shuffle join so the plan is the one that survives a huge
    * eval suite too; the distinct also means the LEFT OUTER probe below
    * cannot fan out). Train positions probe the benchmark set with ONE
    * left join, and the per-doc leak counts AND the per-doc gram total
    * come out of the same single aggregate — the train gram stream is
    * computed and shuffled once. Everything is keyed on gram or doc_id;
    * linear in corpus tokens.
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOf(Tables.documentsSpread(spark, dir), 8)

  /** Same operator over any (doc_id, text, ...) frame. */
  def decontaminateOf(docs: DataFrame, L: Int): DataFrame = {
    val grams = tokenGrams(docs, L)
    val evalGrams = grams.filter(col("doc_id") % 10 === 0)
      .select(col("gram")).distinct().withColumn("leak", lit(1))
    // evalGrams is the eval corpus's distinct-gram table — corpus-scale
    // by design (a real benchmark suite's grams don't fit a broadcast),
    // so the join strategy is pinned rather than left to size estimates
    // (r12 policy, SCALE.md)
    grams.filter(col("doc_id") % 10 =!= 0)
      .join(evalGrams.hint("shuffle_hash"), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(when(col("leak") === 1, col("gram"))).as("n_leaked_grams"),
        sum(when(col("leak") === 1, 1L).otherwise(0L)).as("n_leaked_pos"),
        count(lit(1)).as("n_grams"))
      .filter(col("n_leaked_pos") > 0)
      .select(col("doc_id"), col("n_leaked_grams"),
        round(col("n_leaked_pos").cast("double") / col("n_grams"), 6)
          .as("leak_frac"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- quality budget

  /** Token-budget quality selection (the FineWeb-Edu-style curation
    * step): per source, rank documents by quality score (Text.qualityOf
    * — bit-identical across engines) and keep the best until the kept
    * token total reaches half the source's tokens; report kept count,
    * kept tokens, and the quality cutoff (min kept score). The budget
    * derives from the data (50% of each source's tokens) so the
    * operator is scale-invariant.
    *
    * Shape: one narrow pass computes (score, n_tokens); a per-source
    * window takes the INCLUSIVE running token sum in (score desc,
    * doc_id asc) order, keep ⟺ running ≤ budget; the broadcast-joined
    * per-source totals frame is group-count-sized. The window sorts
    * each source partition — at 100 TB with multi-TB sources, swap the
    * sort for the bucket-histogram threshold refinement the robust lane
    * ships (find the score cutoff via histogram, then one filter pass);
    * the selection semantics are unchanged.
    */
  def qQualityBudget(spark: SparkSession, dir: String): DataFrame = {
    val scored = Text.qualityOf(Tables.documentsSpread(spark, dir))
      .select(col("doc_id"), col("quality_score"))
    val base = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ", -1)).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    // both sides are corpus-scale doc frames (the plan also repeats this
    // join inside the budgets subtree): pinned per the r12 policy so AQE
    // can never broadcast a doc-scale side on a wobbling size estimate
    val d = base.join(scored.hint("shuffle_hash"), "doc_id")
    // `div`, not `/`: Spark's `/` is double division and a double→long
    // CAST truncates while DuckDB's rounds — integer floor-div on both
    // sides keeps odd totals engine-exact.
    val budgets = d.groupBy(col("source"))
      .agg(expr("CAST(sum(n_tokens) div 2 AS BIGINT)").as("budget"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(budgets), "source")
      .withColumn("running", sum(col("n_tokens")).over(w))
      .filter(col("running") <= col("budget"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).cast("long").as("tokens_kept"),
        round(min(col("quality_score")), 6).as("qual_cutoff"))
      .orderBy("source")
  }

  // --------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q_dedup_substr" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |p AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS pos
        |      FROM t WHERE len(w) >= 8),
        |g AS (SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram FROM p),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
        |s AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |             THEN 0 ELSE 1 END AS brk
        |      FROM d),
        |s2 AS (SELECT doc_id, pos,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |       FROM s),
        |spans AS (SELECT doc_id, MIN(pos) AS s0, MAX(pos) + 7 AS s1
        |          FROM s2 GROUP BY doc_id, grp)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(s1 - s0 + 1) AS BIGINT) AS dup_tokens
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) WHERE w <> ''),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |       WHERE w IN ('spark', 'filter', 'stream') GROUP BY doc_id, w),
        |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
        |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, ROUND(SUM(s), 6) AS bm25,
        |       CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents WHERE doc_id <> 0) WHERE w <> ''),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |       WHERE w IN ('spark', 'filter', 'stream') GROUP BY doc_id, w),
        |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
        |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
        |bm AS (SELECT doc_id, ROUND(SUM(s), 6) AS bm25
        |       FROM scored GROUP BY doc_id
        |       ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
        |lex AS (SELECT doc_id,
        |          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
        |               AS BIGINT) AS lex_rank
        |        FROM bm),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |cos AS (
        |  SELECT b.vec_id,
        |    round(list_sum(list_transform(list_zip(b.embedding, q.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (b.nrm * q.nrm), 6) AS cos_sim
        |  FROM e b, e q WHERE q.vec_id = 0 AND b.vec_id <> 0
        |  ORDER BY cos_sim DESC, b.vec_id ASC LIMIT 20),
        |sem AS (SELECT vec_id AS doc_id,
        |          CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC)
        |               AS BIGINT) AS sem_rank
        |        FROM cos)
        |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
        |  ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), 0) +
        |        COALESCE(CAST(1 AS DOUBLE) / (60 + sem_rank), 0), 6) AS rrf,
        |  COALESCE(lex_rank, 0) AS lex_rank,
        |  COALESCE(sem_rank, 0) AS sem_rank
        |FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
        |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,
    // identical lex lane + fusion; the dense lane replays the shared IVF
    // quantizer/probe CTEs (Sim.ivfProbeCtes — the q_sim_ivf math
    // verbatim) instead of the brute full-corpus cosine
    "q_hybrid_search_ivf" -> {
      val lexCtes =
        """toks AS (
          |  SELECT doc_id, w FROM (
          |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          |    FROM documents WHERE doc_id <> 0) WHERE w <> ''),
          |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
          |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
          |       WHERE w IN ('spark', 'filter', 'stream') GROUP BY doc_id, w),
          |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
          |scored AS (
          |  SELECT tf.doc_id,
          |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
          |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
          |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
          |bm AS (SELECT doc_id, ROUND(SUM(s), 6) AS bm25
          |       FROM scored GROUP BY doc_id
          |       ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
          |lex AS (SELECT doc_id,
          |          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
          |               AS BIGINT) AS lex_rank
          |        FROM bm)""".stripMargin
      val fusion =
        """sem AS (SELECT vec_id AS doc_id,
          |          CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC)
          |               AS BIGINT) AS sem_rank
          |        FROM cos)
          |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
          |  ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), 0) +
          |        COALESCE(CAST(1 AS DOUBLE) / (60 + sem_rank), 0), 6) AS rrf,
          |  COALESCE(lex_rank, 0) AS lex_rank,
          |  COALESCE(sem_rank, 0) AS sem_rank
          |FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
          |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin
      s"WITH ${Sim.ivfProbeCtes},\n$lexCtes,\n" +
        s"cos AS (\n${Sim.ivfProbeSelect} LIMIT 20),\n$fusion"
    },
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |p AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS pos
        |      FROM t WHERE len(w) >= 8),
        |g AS (SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram FROM p),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
        |hits AS (SELECT doc_id,
        |           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_leaked_grams,
        |           COUNT(*) AS n_leaked_pos
        |         FROM tr WHERE gram IN (SELECT gram FROM ev) GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id)
        |SELECT hits.doc_id, n_leaked_grams,
        |       ROUND(CAST(n_leaked_pos AS DOUBLE) / n_grams, 6) AS leak_frac
        |FROM hits JOIN tot USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_quality_budget" ->
      s"""WITH q AS (${Text.qualityScoreSql}),
         |d AS (SELECT doc_id, source,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents),
         |j AS (SELECT d.doc_id, d.source, d.n_tokens, q.quality_score
         |      FROM d JOIN q USING (doc_id)),
         |b AS (SELECT source, SUM(n_tokens) // 2 AS budget FROM j GROUP BY source),
         |r AS (SELECT j.*, b.budget,
         |        SUM(n_tokens) OVER (PARTITION BY j.source
         |          ORDER BY quality_score DESC, doc_id ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |      FROM j JOIN b USING (source))
         |SELECT source, COUNT(*) AS n_kept,
         |       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
         |       ROUND(MIN(quality_score), 6) AS qual_cutoff
         |FROM r WHERE running <= budget GROUP BY source ORDER BY source""".stripMargin,
    "q_sample_weighted" -> {
      val draw = Text.sampleDraw("CAST(doc_id AS VARCHAR)")
      s"""WITH k AS (
         |  SELECT source, doc_id, n_chars,
         |    ROUND(ln((($draw) + 1) / 1002.0) / n_chars, 6) AS es_key
         |  FROM documents),
         |r AS (SELECT source, doc_id, n_chars, es_key,
         |        CAST(row_number() OVER (
         |          PARTITION BY source ORDER BY es_key DESC, doc_id ASC)
         |          AS BIGINT) AS rk
         |      FROM k)
         |SELECT source, rk, doc_id, n_chars, es_key
         |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin
    })
}
