package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table — the pieces a
  * large-scale training-data pipeline runs before anything else: corpus
  * stats, language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything here is per-row narrow transformation + one aggregate, so it
  * scales linearly: no joins, no data-dependent shuffles beyond the final
  * groupBy. All expressions are Spark builtins (whole-stage codegen'd) —
  * no UDFs on the hot path.
  */
object Text {

  /** Corpus statistics by language tag. */
  def qTextStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documentsSpread(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ", -1)).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy("lang")
  }

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  private val stopFr = Seq("le", "la", "les", "et", "est", "un")
  private val stopEs = Seq("el", "los", "las", "y", "es", "un")

  /** DuckDB stopword-count expression over `text` (English list) —
    * shared by the quality oracles here and the dedup keep-best oracle.
    */
  private[ops] lazy val stopEnCountSql: String =
    s"CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ${stopEn.map(s => s"'$s'").mkString("(", ", ", ")")})) AS BIGINT)"

  /** DuckDB subquery yielding (doc_id, quality_score) with the exact
    * expression tree of [[qualityOf]] — embeddable as a CTE body by any
    * oracle that needs per-doc quality (e.g. dedup keep-best).
    */
  private[ops] lazy val qualityScoreSql: String =
    s"""SELECT doc_id,
       |  stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 +
       |    CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 0.2 ELSE 0.0 END
       |    AS quality_score
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
       |    CAST(n_punct AS DOUBLE)/n_chars AS punct_ratio
       |  FROM (
       |    SELECT doc_id, n_chars,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      $stopEnCountSql AS n_stop,
       |      CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
       |    FROM documents))""".stripMargin

  private def inList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Stopword-count expression: tokens of `text` that belong to `xs`. */
  private def stopScore(xs: Seq[String]): String =
    s"CAST(size(filter(split(lower(text), ' ', -1), t -> t IN ${inList(xs)})) AS BIGINT)"

  /** N-gram-free language ID heuristic: count language-specific stopwords
    * and pick the max (ties resolved in a fixed en>de>fr>es order). On this
    * synthetic corpus everything is English-ish — the point is the
    * *operator* (deterministic, oracle-checkable scoring), not model
    * quality; a real model would slot into the same per-row shape.
    */
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    langIdOf(Tables.documentsSpread(spark, dir))

  /** Same operator over any (doc_id, text, ...) frame. */
  def langIdOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("s_en", expr(stopScore(stopEn)))
      .withColumn("s_de", expr(stopScore(stopDe)))
      .withColumn("s_fr", expr(stopScore(stopFr)))
      .withColumn("s_es", expr(stopScore(stopEs)))
      .withColumn("detected", expr(
        """CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          |     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
          |     WHEN s_fr >= s_es THEN 'fr'
          |     ELSE 'es' END""".stripMargin))
      .select(col("doc_id"), col("detected"),
        col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
      .orderBy("doc_id")
  }

  /** Quality scoring: token count, mean token length, stopword ratio,
    * punctuation ratio, and a composite score with a keep/drop flag —
    * the standard heuristic pre-filter shape (C4/Gopher-style rules).
    * The score expression tree is identical on the oracle side, so the
    * doubles match bit-for-bit.
    */
  def qQuality(spark: SparkSession, dir: String): DataFrame =
    qualityOf(Tables.documentsSpread(spark, dir))

  /** Same operator over any (doc_id, text, ...) frame. */
  def qualityOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("n_tokens", size(split(col("text"), " ", -1)).cast("long"))
      .withColumn("n_stop", expr(stopScore(stopEn)))
      .withColumn("n_punct",
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("long"))
      .withColumn("avg_token_len",
        length(regexp_replace(col("text"), " ", "")).cast("double")
          / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / col("n_chars"))
      .withColumn("quality_score",
        col("stop_ratio") * 0.5 + (lit(1.0) - col("punct_ratio")) * 0.3
          + when(col("n_tokens") >= 20 && col("n_tokens") <= 1000, 0.2)
            .otherwise(0.0))
      .withColumn("keep", (col("quality_score") > 0.25) && col("n_tokens") >= 10)
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        col("avg_token_len"), col("stop_ratio"), col("punct_ratio"),
        col("quality_score"), col("keep"))
      .orderBy("doc_id")
  }

  /** Token counting three ways: whitespace tokens, alpha "BPE-ish" regex
    * tokens, and the chars/4 LLM-token estimate.
    */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    // Narrow per-row projection, no shuffle downstream: the spread
    // exchange costs more than the per-row work it parallelizes
    // (measured r2: 0.18 s -> 0.55 s with spread). Scan-dominated
    // queries read the file splits as-is.
    tokenCountOf(Tables.documents(spark, dir))

  /** Same operator over any (doc_id, text, ...) frame. */
  def tokenCountOf(docs: DataFrame): DataFrame = {
    docs
      .select(
        col("doc_id"),
        expr("CAST(size(filter(split(text, '\\\\s+', -1), t -> t <> '')) AS BIGINT)")
          .as("ws_tokens"),
        expr("CAST(size(regexp_extract_all(text, '[a-z]+', 0)) AS BIGINT)")
          .as("alpha_tokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_llm_tokens"))
      .orderBy("doc_id")
  }

  /** Normalized-content fingerprint (md5 of lowercased alphanumerics) —
    * the exact-dedup key. Emitted per document; exact duplicates share a
    * fingerprint.
    */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprintOf(Tables.documentsSpread(spark, dir))

  /** Same operator over any (doc_id, text, ...) frame. */
  def fingerprintOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")
          .cast("binary")).as("fp"))
      .orderBy("doc_id")
  }

  /** Winnowing-style rolling-hash fingerprint: polynomial hash of every
    * 4-token window (Horner over md5-derived token values, base 131 mod
    * 1e9+7 — pure integer arithmetic shared verbatim with DuckDB), then
    * the MIN and window count per document. Near-identical documents
    * share window hashes, so their minima collide — the classic
    * content-defined fingerprint, O(tokens) per doc, no shuffle beyond
    * the final per-doc aggregate.
    */
  /** Token → integer via md5 hex prefix (shared text, both engines). */
  private val tokHashExpr =
    "((CAST(ascii(substr(md5(t), 1, 1)) AS BIGINT) * 961 + " +
      "ascii(substr(md5(t), 2, 1)) * 31 + ascii(substr(md5(t), 3, 1))) % 1000000007)"

  /** 4-token window polynomial hash, generated from one template so the
    * Spark and DuckDB arithmetic is structurally identical; `el(j)` is
    * the engine-specific accessor for window element j (0-based offset).
    */
  private def windowHashExpr(el: Int => String): String =
    s"((((((${el(0)} * 131 + ${el(1)}) % 1000000007) * 131 + ${el(2)}) % 1000000007) * 131 + ${el(3)}) % 1000000007)"

  def qFingerprintRolling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Row-based formulation: tokens explode to rows, each token's md5 hash
    // computed exactly ONCE, windows assembled with lead() over (doc, pos).
    // The array-of-windows formulation is a trap here: CollapseProject
    // inlines the hash array into every element_at reference and the md5
    // work multiplies by window-width × array-length (measured 50× slower).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ", -1)).as(Seq("pos", "t")))
      .withColumn("h0", expr(tokHashExpr))
      .withColumn("h1", lead(col("h0"), 1).over(w))
      .withColumn("h2", lead(col("h0"), 2).over(w))
      .withColumn("h3", lead(col("h0"), 3).over(w))
      .filter(col("h3").isNotNull)
      .withColumn("h", expr(windowHashExpr(j => s"h$j")))
      .groupBy(col("doc_id"))
      .agg(min(col("h")).as("min_hash"), count(lit(1)).as("n_windows"))
      .orderBy("doc_id")
  }

  /** Top-3 word bigrams per language — the n-gram frequency profile that
    * seeds language models / quality classifiers. Bigram explode →
    * count per (lang, bigram) → windowed top-k; ties broken on the
    * bigram text so ranking is deterministic. The window survives scale
    * because Catalyst rewrites `row_number ≤ k` into a PARTIAL
    * `WindowGroupLimit` (rank-limit pushdown): each partition keeps ≤ 3
    * candidate bigrams per lang before the exchange, so a language's
    * whole bigram vocabulary (billions of types at corpus scale) is
    * never sorted in one task — plan-pinned in `AggregatorSpec`,
    * measured flat under stratum replication (SCALE.md §per-group top-k
    * audit).
    */
  def qNgramTop(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bigrams = Tables.documentsSpread(spark, dir)
      .withColumn("w", split(lower(col("text")), " ", -1))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(w) >= 2 THEN
          |  transform(sequence(1, size(w) - 1),
          |    i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))
          |ELSE CAST(NULL AS ARRAY<STRING>) END""".stripMargin)).as("bg"))
    val counts = bigrams.groupBy(col("lang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("bg").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("bg"), col("cnt"), col("rn").cast("long").as("rn"))
      .orderBy("lang", "rn")
  }

  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf · ln(N/df) — the classic corpus-statistics feature stage (search
    * indexing, topic labeling, near-dup explanation). Shape: the rows of
    * a doc merged by one shuffle on `doc_id`, per-doc term counts
    * exploded in place, df and N reduced to a vocabulary-sized table and
    * broadcast back, then a per-doc top-k window on the same
    * partitioning — see [[tfidfTopOf]]. It reads the
    * unspread table: the merge's `doc_id` shuffle is the one row-scale
    * exchange, so spreading the raw text first would only ship it twice.
    * The score rounds to 6 decimals after one double multiply of
    * ln(N/df) — division and log on identical rationals, engine-exact in
    * practice.
    */
  def qTfidfTop(spark: SparkSession, dir: String): DataFrame =
    tfidfTopOf(Tables.documents(spark, dir), 3)

  /** Same operator over any deterministic (doc_id, text) frame; top `k`
    * terms/doc.
    *
    * The reference's MapReduce chain ships one (term, doc, tf) pair per
    * distinct term of a doc; here no tf row crosses an exchange:
    *  - one row per doc: `groupBy(doc_id)` with
    *    `concat_ws(" ", collect_list(text))`. The separator is the split
    *    delimiter, so joining a repeated doc_id's texts only adds empty
    *    tokens between them, which `term_counts` drops; null texts are
    *    skipped by `collect_list`. This `doc_id` shuffle of the raw
    *    `(doc_id, text)` rows is the one row-scale exchange, and it is
    *    absent when `docs` is already hash-partitioned on `doc_id`.
    *  - tf: `explode(term_counts(split(lower(text), ' ', -1)))` on the
    *    merged rows — the native [[graft.functions.TermCounts]] counts a
    *    doc's tokens in the row, so one (w, tf) row per distinct term of
    *    a doc is produced where the doc already sits.
    *  - df(w) = #docs containing w: a second tokenize pass emits each
    *    term of a doc once into `groupBy(w).count()`, map-side combined
    *    to at most one row per term and map task, then broadcast and
    *    joined on `w`.
    *  - N = #docs with at least one term, carried in the same table:
    *    that pass also emits `""` once for each doc with a term, and
    *    `""` is never a term (`term_counts` drops empty tokens), so its
    *    count is N. A window over the (vocabulary-sized) aggregate puts
    *    N on every row before the broadcast. So N costs no third reader
    *    of the `doc_id` exchange and no second broadcast.
    * The tf and df branches both read the one `doc_id` exchange, the
    * second as a `ReusedExchange`; each fetches its whole output. The
    * score expression, the per-doc `row_number` (already satisfied by
    * the `doc_id` partitioning) and its ordering are those of the former
    * tf⋈df join shape, and so are the rows (`TextPlanSpec` compares the
    * two).
    *
    * Trade-offs:
    *  - The df broadcast grows with the vocabulary, not the corpus — the
    *    shape of Spark MLlib's `IDFModel`. While the distinct terms fit a
    *    broadcast it replaces shipping every (term, doc) pair. On a
    *    generated frame of df-1 terms (`local[4]`), 10⁵ terms broadcast
    *    20 MB and ran as fast as the former term shuffle, while 10⁶
    *    terms broadcast 112 MB and ran about 25% slower: the crossover
    *    is vocabulary size, not corpus size.
    *  - The corpus is tokenized twice (tf and df), and the merged rows
    *    are fetched twice, trading CPU and shuffle reads for not
    *    shipping the tf rows.
    *  - A doc's texts are merged into one string in one task, so a
    *    doc_id repeated across very many rows is a hot key.
    *  - `docs` is evaluated by both branches through one exchange, so
    *    the frame must be deterministic.
    * Nothing is pinned and no row-scale side is joined, so r12's hazard
    * (AQE broadcasting a corpus-scale side) cannot arise.
    */
  def tfidfTopOf(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val one = docs.groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("text"))).as("text"))
    val terms = one.select(col("doc_id"),
      call_function("term_counts", split(lower(col("text")), " ", -1)).as("tc"))
    val tf = terms.select(col("doc_id"), explode(col("tc")).as(Seq("w", "tf")))
    // "" is no term (term_counts drops empty tokens), so giving it to
    // every doc that has a term makes its df the N of the score
    val df = terms
      .select(explode(when(size(col("tc")) > 0,
        concat(map_keys(col("tc")), array(lit(""))))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .withColumn("n",
        max(when(col("w") === "", col("df"))).over(Window.partitionBy()))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w").asc)
    tf.join(broadcast(df), "w")
      .withColumn("score", round(col("tf") *
        log(col("n").cast("double") / col("df").cast("double")), 6))
      .withColumn("rk", row_number().over(win).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("w").as("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** Stratified (per-source) sampling — the training-mix rebalancer:
    * each source stratum keeps a different deterministic fraction
    * (1000/500/200/100 per mille by source index mod 4) decided by an
    * md5-derived per-doc draw, so the sample is reproducible across
    * runs, engines, and partitionings (the at-scale requirement RNG
    * sampling can't meet — re-running must not resample). One narrow
    * filter, no shuffle before the per-source audit aggregate.
    */
  /** Uniform-ish per-doc draw in [0, 1000): integer arithmetic over md5
    * hex bytes of the decimal doc id — `md5Arg` is the engine's
    * string-to-md5-input spelling, everything else shared verbatim.
    */
  private[graft] def sampleDraw(md5Arg: String): String =
    s"(CAST(ascii(substr(md5($md5Arg), 1, 1)) AS BIGINT) * 65536 " +
      s"+ ascii(substr(md5($md5Arg), 2, 1)) * 256 " +
      s"+ ascii(substr(md5($md5Arg), 3, 1))) % 1000"

  private val sampleRate =
    "CASE CAST(substr(source, 4) AS BIGINT) % 4 " +
      "WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 200 ELSE 100 END"

  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val draw = sampleDraw("CAST(CAST(doc_id AS STRING) AS BINARY)")
    Tables.documents(spark, dir)
      .filter(expr(s"($draw) < $sampleRate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept"))
      .orderBy("source")
  }

  /** Redaction: mask stopword tokens and any all-digit tokens — the
    * PII-scrub shape (here over word-boundary regexes shared by Java and
    * RE2). Output is the md5 of the redacted text to keep rows narrow.
    */
  def qTextRedact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"),
        md5(regexp_replace(
          regexp_replace(lower(col("text")), "\\b(the|a|of|and)\\b", "<STOP>"),
          "\\b[0-9]+\\b", "<NUM>").cast("binary")).as("redacted_md5"),
        (length(col("text")) - length(
          regexp_replace(lower(col("text")), "\\b(the|a|of|and)\\b", "")))
          .cast("long").as("chars_redacted"))
      .orderBy("doc_id")
  }

  /** Document chunking for training pipelines: 32-token chunks, stride
    * 24 (8-token overlap), trailing partial chunks dropped unless the
    * doc fits in one. Emits a digest per chunk — narrow per-row work,
    * the exact shape a tokenize-and-pack stage runs at corpus scale.
    */
  def qTextChunk(spark: SparkSession, dir: String): DataFrame =
    chunksOf(Tables.documentsSpread(spark, dir))

  /** Same operator over any (doc_id, text, ...) frame. */
  def chunksOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("w", split(lower(col("text")), " ", -1))
      .select(col("doc_id"), col("w"), explode(expr(
        "filter(sequence(1, size(w), 24), s -> s = 1 OR s + 31 <= size(w))"))
        .as("s"))
      .select(col("doc_id"),
        expr("CAST((s - 1) div 24 AS BIGINT)").as("chunk_idx"),
        expr("CAST(least(32, size(w) - s + 1) AS BIGINT)").as("chunk_len"),
        expr("md5(CAST(concat_ws(' ', slice(w, s, least(32, size(w) - s + 1))) AS BINARY))")
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Benchmark-contamination check: which documents contain any probe
    * phrase (the n-gram-overlap-against-eval-set shape). Probes
    * broadcast as a literal array; the scan stays a narrow filter.
    */
  private val contaminationProbes = Seq(
    "table key filter", "stream data filter", "row value spark",
    "zz no such phrase")

  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val arr = contaminationProbes.map(p => s"'$p'")
      .mkString("array(", ", ", ")")
    Tables.documentsSpread(spark, dir)
      .withColumn("hits", expr(s"filter($arr, p -> contains(lower(text), p))"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_hits"),
        array_join(col("hits"), "|").as("hits"))
      .orderBy("doc_id")
  }

  /** Repetition filters (Gopher-style): distinct-token ratio and the
    * fraction of bigrams taken by the most frequent bigram — the
    * boilerplate/degenerate-text detectors that run before training.
    */
  def qTextRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documentsSpread(spark, dir))

  /** Same operator over any (doc_id, text, ...) frame. */
  def repetitionOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("w", split(lower(col("text")), " ", -1))
      .filter(size(col("w")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 6)
          .as("distinct_ratio"),
        round(expr(
          "CAST(array_max(transform(array_distinct(bg), x -> size(filter(bg, y -> y = x)))) AS DOUBLE)")
          / size(col("bg")), 6).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |c AS (
        |  SELECT doc_id, unnest(list_filter(range(1, len(w)+1, 24),
        |    s -> s = 1 OR s + 31 <= len(w))) AS s, w
        |  FROM t)
        |SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
        |  CAST(least(32, len(w) - s + 1) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(w[s : s + least(32, len(w) - s + 1) - 1], ' '))
        |    AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_contamination" -> {
      val arr = contaminationProbes.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CAST(len(list_filter($arr, p -> contains(lower(text), p))) AS BIGINT)
         |    AS n_hits,
         |  array_to_string(list_filter($arr, p -> contains(lower(text), p)), '|')
         |    AS hits
         |FROM documents
         |WHERE len(list_filter($arr, p -> contains(lower(text), p))) > 0
         |ORDER BY doc_id""".stripMargin
    },
    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, w,
        |        list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
        |      FROM t)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        |    AS distinct_ratio,
        |  round(CAST(list_max(list_transform(list_distinct(bg),
        |    x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg), 6)
        |    AS top_bigram_frac
        |FROM b WHERE len(w) >= 2 ORDER BY doc_id""".stripMargin,
    "q_fingerprint_rolling" -> {
      val wh = windowHashExpr(j => s"hv[i + $j]")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_transform(string_split(lower(text), ' '),
         |      t -> $tokHashExpr) AS hv
         |  FROM documents),
         |rolls AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(hv) - 2),
         |    i -> $wh)) AS h
         |  FROM toks)
         |SELECT doc_id, MIN(h) AS min_hash, COUNT(*) AS n_windows
         |FROM rolls GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_ngram_top" ->
      """WITH bg AS (
        |  SELECT lang, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM (SELECT lang, string_split(lower(text), ' ') AS w FROM documents)),
        |c AS (SELECT lang, bg, COUNT(*) AS cnt FROM bg GROUP BY lang, bg),
        |r AS (SELECT lang, bg, cnt,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY cnt DESC, bg ASC) AS BIGINT) AS rn
        |      FROM c)
        |SELECT lang, bg, cnt, rn FROM r WHERE rn <= 3 ORDER BY lang, rn"""
        .stripMargin,
    "q_sample_stratified" ->
      s"""SELECT source, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
         |FROM documents
         |WHERE (${sampleDraw("CAST(doc_id AS VARCHAR)")}) < $sampleRate
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) WHERE w <> ''),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY w),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
        |s AS (
        |  SELECT tf.doc_id, tf.w,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 6)
        |      AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, w, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, w ASC) AS BIGINT) AS rk
        |  FROM s)
        |SELECT doc_id, rk, w AS term, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "q_text_redact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(
        |    regexp_replace(lower(text), '\b(the|a|of|and)\b', '<STOP>', 'g'),
        |    '\b[0-9]+\b', '<NUM>', 'g')) AS redacted_md5,
        |  CAST(length(text) - length(
        |    regexp_replace(lower(text), '\b(the|a|of|and)\b', '', 'g'))
        |    AS BIGINT) AS chars_redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_chars) AS DOUBLE)/COUNT(*) AS avg_chars,
        |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_lang_id" -> {
      def sc(xs: Seq[String]) =
        s"CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ${xs.map(s => s"'$s'").mkString("(", ", ", ")")})) AS BIGINT)"
      s"""SELECT doc_id,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS detected,
         |  s_en, s_de, s_fr, s_es
         |FROM (SELECT doc_id, ${sc(stopEn)} AS s_en, ${sc(stopDe)} AS s_de,
         |             ${sc(stopFr)} AS s_fr, ${sc(stopEs)} AS s_es
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "q_quality" ->
      s"""SELECT doc_id, n_tokens, n_stop, avg_token_len, stop_ratio, punct_ratio,
         |  quality_score, quality_score > 0.25 AND n_tokens >= 10 AS keep
         |FROM (
         |  SELECT doc_id, n_tokens, n_stop, avg_token_len, stop_ratio, punct_ratio,
         |    stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 +
         |      CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 0.2 ELSE 0.0 END
         |      AS quality_score
         |  FROM (
         |    SELECT doc_id, n_tokens, n_stop, n_punct,
         |      CAST(n_nospace AS DOUBLE)/n_tokens AS avg_token_len,
         |      CAST(n_stop AS DOUBLE)/n_tokens AS stop_ratio,
         |      CAST(n_punct AS DOUBLE)/n_chars AS punct_ratio
         |    FROM (
         |      SELECT doc_id, n_chars,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        $stopEnCountSql AS n_stop,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |        CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nospace
         |      FROM documents)))
         |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_tokens,
        |  CAST(ceil(length(text)/4.0) AS BIGINT) AS est_llm_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
