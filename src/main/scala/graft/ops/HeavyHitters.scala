package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Heavy hitters (frequent items) via a count-min sketch prepass — the
  * two-pass bounded-memory pattern a 100 TB corpus needs for hot-token /
  * stop-phrase discovery, where a naive `GROUP BY token` shuffles the
  * entire vocabulary.
  *
  * Pass 1 builds the sketch WITHOUT custom aggregation code: each token
  * contributes `depth` (row, bucket) pairs via posexplode, and a plain
  * groupBy-count folds them — map-side partial aggregation reduces every
  * partition to ≤ depth·width rows before the (tiny) shuffle, which is
  * exactly the CMS update rule expressed declaratively. The merged
  * sketch (depth·width longs, bounded regardless of data size) is
  * collected and re-enters the plan as literal arrays.
  *
  * Pass 2 prefilters the token STREAM map-side with the classic CMS
  * estimate `min_j sketch[j][h_j(t)]` — built from `xxhash64` +
  * multiply-shift row hashes + `element_at` on the literal arrays, all
  * codegen'd builtins (no Scala UDF, the lesson of the bloom lane) — and
  * exact-counts only the survivors. CMS never underestimates (every
  * bucket a token hashes to holds at least its true count, whatever the
  * hash quality), so the candidate set is a SUPERSET of the true heavy
  * hitters and the exact second pass makes the final answer EXACT: hash
  * quality affects only how few false positives pay the shuffle, never
  * the result. That is what lets an approximate sketch sit inside a
  * hash-checked oracle gate.
  *
  * Scale: pass 2's shuffle carries only tokens whose estimate clears the
  * threshold — the heavy tokens plus an ε·N false-positive tail
  * (ε ≈ e/width) — instead of the full vocabulary.
  */
object HeavyHitters {

  val Depth = 3
  val Width = 2048

  /** Odd multiply-shift constants < 2³¹ for the per-row hashes: each
    * row multiplies a 31-bit slice of the token's xxhash64, so the
    * product stays under 2⁶² and never trips ANSI-mode overflow (Spark 4
    * default — full 64-bit wrap-around hashing would abort the query).
    */
  private val Ks = Array(1640531527L, 624308369L, 741103597L)
  private val Cs = Array(97531L, 86421L, 75311L)

  /** Bucket of sketch row `j` for the 64-bit token hash in `hh`: row j
    * reads bits [11j, 11j+31) of the hash (distinct, overlapping
    * windows), then multiply-shifts into [0, Width).
    */
  private def bucket(j: Int): Column =
    pmod(shiftright(col("hh"), j * 11).bitwiseAND(lit(0x7FFFFFFFL))
      * lit(Ks(j)) + lit(Cs(j)), lit(Width.toLong))

  /** Pass 1: the merged sketch (depth×width counts) and the total token
    * count, from one bounded aggregation over the hashed token frame.
    */
  private def buildSketch(withH: DataFrame): (Array[Array[Long]], Long) = {
    val sketchRows = withH
      .select(posexplode(array((0 until Depth).map(bucket): _*))
        .as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
      .collect() // bounded: ≤ Depth·Width rows, ~48 KB
    val sketch = Array.fill(Depth)(new Array[Long](Width))
    sketchRows.foreach { r =>
      sketch(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2)
    }
    // every token lands once in row 0, so the row sum IS the total count
    (sketch, sketch(0).sum)
  }

  /** The CMS estimate `min_j sketch[j][h_j(t)]` as a codegen'd column
    * over the literal sketch arrays.
    */
  private def estimateCol(sketch: Array[Array[Long]]): Column =
    least((0 until Depth).map(j =>
      element_at(lit(sketch(j)), (bucket(j) + lit(1)).cast("int"))): _*)

  /** Sketch diagnostics: per distinct token, the CMS estimate next to
    * the exact count. `est ≥ cnt` for EVERY token by construction — the
    * overestimate-only property the spec asserts and [[heavyHitters]]'s
    * exactness rests on; `est − cnt` is the collision inflation that
    * sizes the false-positive shuffle tail.
    */
  def estimates(tokens: DataFrame): DataFrame = {
    val withH = tokens.withColumn("hh", xxhash64(col("t")))
    val (sketch, _) = buildSketch(withH)
    withH.withColumn("est", estimateCol(sketch))
      .groupBy(col("t")).agg(first(col("est")).as("est"),
        count(lit(1)).as("cnt"))
  }

  /** Exact tokens with count ≥ ceil(permille/1000 · total), over a
    * one-column (`t` STRING) frame, via the CMS prepass. Threshold
    * arithmetic is integer (`(total·permille + 999) div 1000`) so the
    * oracle can replay it without floating-point ceil hazards.
    *
    * Building it runs a Spark job: the count-min sketch is aggregated
    * over `tokens` and collected when this method is called, not when
    * the returned frame runs, and rides in the plan as a literal. The
    * frame is read once for the sketch and again when it runs, so it
    * must be deterministic.
    */
  def heavyHitters(tokens: DataFrame, permille: Long): DataFrame = {
    val withH = tokens.withColumn("hh", xxhash64(col("t")))
    val (sketch, total) = buildSketch(withH)
    val threshold = (total * permille + 999L) / 1000L
    withH
      .filter(estimateCol(sketch) >= lit(threshold)) // map-side, codegen'd
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(threshold)) // exact final gate
      .orderBy(col("cnt").desc, col("t").asc)
  }

  /** Whitespace tokens of the document corpus (lowered), the shared
    * tokenization of the text lane — empties from repeated separators
    * kept, matching DuckDB `string_split`.
    */
  def corpusTokens(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documentsSpread(spark, dir)
      .select(explode(split(lower(col("text")), " ", -1)).as("t"))

  /** Tokens appearing in ≥ 0.5% of all token positions — the hot-token
    * profile that seeds stop-word lists and the df-cap lanes.
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(corpusTokens(spark, dir), permille = 5L)

  val oracles: Map[String, String] = Map(
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS t
        |  FROM documents),
        |thr AS (SELECT (COUNT(*) * 5 + 999) // 1000 AS v FROM toks)
        |SELECT t, COUNT(*) AS cnt FROM toks
        |GROUP BY t HAVING COUNT(*) >= (SELECT v FROM thr)
        |ORDER BY cnt DESC, t ASC""".stripMargin,
  )
}
