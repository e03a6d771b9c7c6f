package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** BPE merge-loop training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — the byte-pair-encoding
  * tokenizer-training loop, run at token granularity over the corpus):
  * iterate k times
  *   1. count adjacent symbol pairs over the whole sequence stream,
  *   2. pick the most frequent pair (ties: lexicographic (a, b) asc —
  *      deterministic across engines and partitionings),
  *   3. merge every NON-OVERLAPPING, LEFTMOST-FIRST occurrence of that
  *      pair into one symbol,
  * and emit the learned merge table (iteration, pair, count at selection
  * time) — the tokenizer-training artifact a pipeline ships alongside the
  * corpus. [[Text2.qPmiBigrams]] ranks the same adjacent-pair signal
  * statistically; this is the loop that actually consumes it.
  *
  * Scale shape, per iteration: each document's symbol sequence lives as
  * ONE separator-joined string, so the pair stream is a narrow
  * split+transform (no per-position rows, no windows), pair counts are a
  * map-side-combined groupBy on the pair key — the single shuffle of the
  * iteration — and the argmax is orderBy+limit(1) →
  * TakeOrderedAndProject (per-partition heap, ONE row to the driver —
  * bounded at any corpus size, not a row-scale collect). The merge
  * rewrite is a single codegen'd regexp_replace per iteration: Java's
  * matcher replaces LEFTMOST, NON-OVERLAPPING occurrences scanning left
  * to right, which is exactly BPE's greedy merge rule ("a a a a" with
  * pair (a,a) → "(a a) (a a)", never the overlapping forms); lookaround
  * anchors keep token boundaries unconsumed so back-to-back occurrences
  * both merge. The sequence frame is persisted and materialized each
  * iteration (and the previous iteration's blocks released — peak
  * storage is two corpus copies regardless of k) — the lineage-
  * truncation move the CC resolver in [[Dedup]] makes with
  * localCheckpoint — so iteration i's pair-count job reads the
  * materialized iteration-(i−1) sequences plus ONE regexp, not the
  * whole rewrite chain from the parquet scan: the loop is linear in k
  * (2 narrow corpus passes per iteration), not O(k²). At 100 TB the standard
  * move is to learn merges on a hash-sampled slice (the merge table
  * converges long before the full corpus is counted) and apply them
  * corpus-wide in one pass — same operators, one filter.
  *
  * The DuckDB oracle is DELIBERATELY a different algorithm — per-position
  * rows, run-islands, and the odd-offset parity rule for overlapping
  * matches — so the gate checks the merge semantics themselves, not a
  * shared formulation's blind spots ([[BpeSpec]] additionally replays a
  * third, plain-Scala sequential model).
  */
object Bpe {

  /** Symbol-boundary separator inside the per-doc sequence string —
    * a control char that tokenization (split on ' ') can never emit for
    * the corpora at hand; merged symbols join with a plain space.
    */
  private val Sep = "\u0001"

  val BpeIterations = 5

  /** The trained merge table for a given data dir, collected once per
    * JVM: the production contract is that the (tiny, k-row) merge table
    * SHIPS alongside the corpus — training happens once, application is
    * the only corpus-scale pass. Memoizing here makes the two gate
    * queries honor that contract: `q_bpe_merges` trains, `q_bpe_apply`
    * consumes the same table instead of re-running the loop. The memo
    * is `Sources.stageOnceInJvm`'s, so the training runs outside any
    * map-bin lock and a failed training is not memoized.
    */
  private def trainedMerges(spark: SparkSession, dir: String): Array[(Long, String, String, Long)] =
    graft.sources.Sources.stageOnceInJvm(s"bpe-merges:$dir") {
      bpeMergesOf(Tables.documentsSpread(spark, dir), BpeIterations).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    }

  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir).toSeq
      .toDF("iter", "pair_a", "pair_b", "pair_count").orderBy("iter")
  }

  /** The learned merge table (iter, pair_a, pair_b, pair_count) over any
    * (doc_id, text, ...) frame.
    */
  def bpeMergesOf(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need at least one merge iteration, got $k")
    val spark = docs.sparkSession
    // (doc_id, s): the symbol sequence as one Sep-joined string with a
    // Sep at BOTH ends, so every symbol boundary (incl. first/last) is
    // marked and the merge regex can anchor on it
    // Eager localCheckpoint: materialize the parse once, so iteration 1
    // counts pairs off a LogicalRDD leaf instead of re-tokenizing per
    // job. localCheckpoint (not persist) is load-bearing twice over: it
    // truncates the LOGICAL plan too, so iteration i plans against a
    // leaf — a persist chain keeps the whole nested-InMemoryRelation
    // lineage and by k≈25 the plan tree AQE renders per job OOMs the
    // driver (measured; the CC resolver's scaladoc calls out the same
    // failure mode).
    var seq = docs.select(col("doc_id"), expr(
      s"""concat('$Sep', array_join(
         |  filter(split(lower(text), ' ', -1), t -> t != ''), '$Sep'),
         |  '$Sep')""".stripMargin).as("s")).localCheckpoint(true)
    // The symbol array back out of s (empties are the two end markers).
    // w MUST be its own projected column, not a textually-inlined
    // subexpression of the pair transform: higher-order functions
    // evaluate interpreted (CodegenFallback, no subexpression
    // elimination), so an inlined `element_at(filter(split(s)), i)`
    // re-splits the WHOLE doc string on every element access — O(n²)
    // per doc per iteration (measured: 25–90 s training at sf0.1
    // depending on JIT luck, vs ~3 s linear). As a column, w survives
    // to the Generate input as an attribute (CollapseProject never
    // inlines a non-cheap expr referenced more than once) and each
    // element_at is an O(1) ArrayData lookup — the same shape every
    // other n-gram lane in this repo uses.
    val pairsCol = expr(
      """CASE WHEN size(w) >= 2 THEN
        |  transform(sequence(1, size(w) - 1),
        |    i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))
        |ELSE CAST(NULL AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"""
        .stripMargin)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (i <- 1 to k) {
      val bestRows = seq
        .withColumn("w", expr(s"filter(split(s, '$Sep', -1), t -> t != '')"))
        .select(explode(pairsCol).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (bestRows.nonEmpty) {
        val (a, b, c) =
          (bestRows(0).getString(0), bestRows(0).getString(1), bestRows(0).getLong(2))
        merges += ((i.toLong, a, b, c))
        // leftmost non-overlapping replace == the BPE merge rule; the
        // boundary Seps sit in lookarounds (unconsumed), so back-to-back
        // occurrences both merge. The chosen pair enters as literals —
        // the rewrite stays one codegen'd projection. The eager
        // localCheckpoint truncates lineage (and the logical plan — see
        // the parse note above) each iteration: without it iteration i
        // re-runs all i−1 rewrites from the scan per count job — O(k²)
        // corpus passes. Once the new checkpoint is materialized, the
        // PREVIOUS iteration's blocks are released via its LogicalRDD
        // handle, so peak storage is TWO tokenized-corpus copies
        // regardless of k (a k-copy accumulation at k=50 would evict
        // everything else in the executor). The final rewrite is
        // skipped — merge k is never counted against.
        if (i < k) {
          val pat = s"(?<=$Sep)" +
            java.util.regex.Pattern.quote(s"$a$Sep$b") + s"(?=$Sep)"
          val rep = java.util.regex.Matcher.quoteReplacement(s"$a $b")
          val prev = seq
          seq = seq.withColumn("s", regexp_replace(col("s"), pat, rep))
            .localCheckpoint(true)
          releaseCheckpoint(prev)
        }
      }
    }
    releaseCheckpoint(seq)
    import spark.implicits._
    merges.toSeq.toDF("iter", "pair_a", "pair_b", "pair_count")
      .orderBy("iter")
  }

  /** Bounds the loop's PEAK storage to two corpus copies instead of k —
    * see [[Checkpoints.release]] (the shared idiom).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    Checkpoints.release(df)

  /** Apply a SHIPPED merge table corpus-wide and report per-source
    * compression — the second half of tokenizer training: the merge
    * table (tiny, k rows, learned once — possibly on a sample) is the
    * input, and this application pass is the only corpus-scale work:
    * k chained codegen'd `regexp_replace` projections (the rewrite IS
    * the application) and one aggregate down to (source, docs, tokens
    * before, tokens after) — the compression a k-rule token-BPE buys.
    * No training happens here; at 100 TB this is the pass that runs
    * over the full corpus while [[bpeMergesOf]] ran on a slice.
    *
    * @param merges (pair_a, pair_b) in iteration order — order matters:
    *               later merges can consume symbols earlier ones built.
    */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val base = docs.select(col("source"),
      expr("CAST(size(filter(split(lower(text), ' ', -1), t -> t != '')) AS BIGINT)")
        .as("n_before"),
      expr(
        s"""concat('$Sep', array_join(
           |  filter(split(lower(text), ' ', -1), t -> t != ''), '$Sep'),
           |  '$Sep')""".stripMargin).as("s"))
    val applied = merges.foldLeft(base) { case (df, (a, b)) =>
      val pat = s"(?<=$Sep)" +
        java.util.regex.Pattern.quote(s"$a$Sep$b") + s"(?=$Sep)"
      val rep = java.util.regex.Matcher.quoteReplacement(s"$a $b")
      df.withColumn("s", regexp_replace(col("s"), pat, rep))
    }
    applied
      .select(col("source"), col("n_before"),
        expr(s"CAST(size(filter(split(s, '$Sep', -1), t -> t != '')) AS BIGINT)")
          .as("n_after"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_before")).cast("long").as("tokens_before"),
        sum(col("n_after")).cast("long").as("tokens_after"))
      .withColumn("compression",
        round(col("tokens_after").cast("double") / col("tokens_before"), 6))
      .orderBy("source")
  }

  /** Train-then-apply convenience: learns k merges on `docs`, then
    * applies them to the same frame. Production splits the two — see
    * [[bpeApply]] — but a one-shot caller (tests, the fluent API) gets
    * the composed form.
    */
  def bpeApplyOf(docs: DataFrame, k: Int): DataFrame =
    bpeApply(docs,
      bpeMergesOf(docs, k).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Gate query: applies the table [[qBpeMerges]] trained — via the
    * per-dir memo, so across the two gate queries the training loop
    * runs exactly once and apply genuinely consumes a shipped table.
    */
  def qBpeApply(spark: SparkSession, dir: String): DataFrame =
    bpeApply(Tables.documentsSpread(spark, dir),
      trainedMerges(spark, dir).map(m => (m._2, m._3)).toSeq)

  /** One unrolled oracle iteration: seq$i → best$i (the argmax pair) and
    * seq${i+1} (the merged sequence) — the same window/island/parity
    * recipe as the Spark side, in portable SQL.
    */
  private def iterCte(i: Int): String =
    s"""p$i AS (
       |  SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM seq$i),
       |best$i AS (
       |  SELECT tok AS a, nxt AS b, COUNT(*) AS c FROM p$i
       |  WHERE nxt IS NOT NULL GROUP BY tok, nxt
       |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
       |mp$i AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      row_number() OVER (PARTITION BY doc_id, isl ORDER BY pos) AS off
       |    FROM (
       |      SELECT h.doc_id, h.pos,
       |        h.pos - row_number() OVER (PARTITION BY h.doc_id ORDER BY h.pos) AS isl
       |      FROM p$i h CROSS JOIN best$i b
       |      WHERE h.tok = b.a AND h.nxt = b.b))
       |  WHERE off % 2 = 1),
       |dr$i AS (
       |  SELECT h.doc_id, h.pos,
       |    CASE WHEN mp.pos IS NOT NULL THEN h.tok || ' ' || h.nxt
       |         ELSE h.tok END AS tok,
       |    lag(CASE WHEN mp.pos IS NOT NULL THEN 1 ELSE 0 END, 1, 0)
       |      OVER (PARTITION BY h.doc_id ORDER BY h.pos) AS drp
       |  FROM p$i h LEFT JOIN mp$i mp
       |    ON h.doc_id = mp.doc_id AND h.pos = mp.pos),
       |seq${i + 1} AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos, tok
       |  FROM dr$i WHERE drp = 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_bpe_merges" -> {
      val iters = (1 to BpeIterations).map(iterCte).mkString(",\n")
      val out = (1 to BpeIterations)
        .map(i => s"SELECT CAST($i AS BIGINT) AS iter, a AS pair_a, " +
          s"b AS pair_b, c AS pair_count FROM best$i")
        .mkString("\nUNION ALL\n")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |p0 AS (
         |  SELECT doc_id, unnest(generate_series(1, len(w))) AS p, w FROM t),
         |s0 AS (SELECT doc_id, p, w[p] AS tok FROM p0 WHERE w[p] <> ''),
         |seq1 AS (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos, tok
         |  FROM s0),
         |$iters
         |$out
         |ORDER BY iter""".stripMargin
    },
    "q_bpe_apply" -> {
      val iters = (1 to BpeIterations).map(iterCte).mkString(",\n")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |p0 AS (
         |  SELECT doc_id, unnest(generate_series(1, len(w))) AS p, w FROM t),
         |s0 AS (SELECT doc_id, p, w[p] AS tok FROM p0 WHERE w[p] <> ''),
         |seq1 AS (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY p) AS pos, tok
         |  FROM s0),
         |$iters,
         |nb AS (SELECT doc_id, COUNT(*) AS n FROM seq1 GROUP BY doc_id),
         |na AS (SELECT doc_id, COUNT(*) AS n
         |       FROM seq${BpeIterations + 1} GROUP BY doc_id)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(COALESCE(nb.n, 0)) AS BIGINT) AS tokens_before,
         |  CAST(SUM(COALESCE(na.n, 0)) AS BIGINT) AS tokens_after,
         |  ROUND(CAST(SUM(COALESCE(na.n, 0)) AS DOUBLE)
         |    / CAST(SUM(COALESCE(nb.n, 0)) AS BIGINT), 6) AS compression
         |FROM documents d
         |LEFT JOIN nb ON nb.doc_id = d.doc_id
         |LEFT JOIN na ON na.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    })
}
