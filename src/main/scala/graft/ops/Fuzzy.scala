package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Fuzzy (edit-distance) self-join — the record-linkage / entity-
  * resolution primitive: find all string pairs within Levenshtein
  * distance k without comparing all pairs.
  *
  * Blocking: padded 3-grams (`##name##`). A string of length L yields
  * L+2 grams and one edit destroys at most 3 of them, so two strings
  * within distance k share at least L+2−3k grams — for k=2 and L≥5
  * that is ≥1, making the blocking LOSSLESS here: the oracle is the
  * clean all-pairs formulation, the implementation never materializes
  * it. Exact Levenshtein (integer, engine-identical) verifies only the
  * blocked candidates.
  *
  * Shape at scale: the same inverted-posting-list pattern as the
  * n-gram Jaccard lane — candidates come from per-gram buckets, never
  * a cross join; the name table is DISTINCT names (≪ rows). Hot grams
  * (the padding grams '##x' are shared by every name with the same
  * first letter) are the df-skew: one gram with df = 10⁶ emits 5·10¹¹
  * candidate pairs. `dfCap` wires the same count-prepass + broadcast
  * anti-join the Jaccard lane uses ([[Dedup.jaccardPairsOf]]) — and
  * unlike Jaccard's lower-bound semantics, here the cap stays LOSSLESS
  * (proof at [[fuzzySelfJoin]]). SCALE.md's fuzzy probe table records
  * the contrast: uncapped candidates grow ~k² under 10× replication
  * while capped growth stays near-linear, with identical final pairs.
  */
object Fuzzy {

  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    fuzzySelfJoin(
      Tables.part(spark, dir).select(col("p_name").as("name")), 2)

  /** The 100 TB configuration: same result set, hot grams capped. The
    * oracle is the IDENTICAL all-pairs SQL as `q_fuzzy_join` — the
    * hash-match is the losslessness proof, not just a row count. At
    * gate scale the cap (8) actually fires (3 grams exceed it) while
    * leaving every name safe, so the gate exercises the drop path.
    */
  val FuzzyDfCap = 8L

  def qFuzzyJoinCapped(spark: SparkSession, dir: String): DataFrame =
    fuzzySelfJoin(
      Tables.part(spark, dir).select(col("p_name").as("name")), 2,
      dfCap = FuzzyDfCap)

  /** All distinct-value pairs of `name` within Levenshtein `maxDist`.
    *
    * Completeness with a df-cap — WHY this stays lossless. Hotness is
    * a GLOBAL property of a gram, so both members of a pair drop the
    * same grams. A true pair (a,b) with Lmin = min(len a, len b)
    * shares ≥ Lmin+2−3k grams; the shared grams that are hot number at
    * most h_short (the shorter name's hot-gram count). So if every
    * name kept in the blocking satisfies h < L+2−3k, then for any true
    * pair the shorter member guarantees a shared NON-hot gram, and the
    * pair survives in some cold bucket. Names violating the bound
    * ("unsafe": mostly-boilerplate strings) are removed from the
    * posting lists and instead compared against every name directly —
    * the same broadcast rescue path short strings already take. Indeed
    * the unsafe condition h ≥ L+2−3k with dfCap = ∞ (h = 0) reduces to
    * exactly the old short-string condition L < 3k−1, so one predicate
    * covers both. Unsafe names are few by construction (a name whose
    * grams are nearly all corpus-hot is itself boilerplate); the
    * rescue frame broadcasts.
    */
  def fuzzySelfJoin(names: DataFrame, maxDist: Int,
    dfCap: Long = Long.MaxValue): DataFrame =
    fuzzyCandidates(names, maxDist, dfCap)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .orderBy("name_a", "name_b")

  /** The candidate pairs the blocking emits (before Levenshtein
    * verification) — what the df-cap actually bounds: candidate growth
    * is where the skew blowup lives; the verified-pair count is the
    * same either way (losslessness).
    */
  private def fuzzyCandidates(names: DataFrame, maxDist: Int,
    dfCap: Long): DataFrame = {
    val n = names.select(col("name")).distinct()
    val minSafeLen = 3 * maxDist - 1
    val grams = n.select(col("name"), explode(expr(
        """transform(sequence(1, length(name) + 2),
          |  i -> substring(concat('##', name, '##'), i, 3))""".stripMargin))
        .as("g"))
      .distinct()
    // (posting lists that may emit pairs, names routed to the rescue).
    // The cap is enforced BEFORE the self-join: a count-only prepass
    // finds hot grams (few — they broadcast), the anti-join removes
    // them, and names left without the survival guarantee join the
    // short strings on the rescue path.
    val (blockGrams, rescueNames) =
      if (dfCap == Long.MaxValue)
        (grams, n.filter(length(col("name")) < minSafeLen))
      else {
        val hot = grams.groupBy(col("g"))
          .agg(count(lit(1)).as("df")).filter(col("df") > dfCap)
          .select(col("g"), lit(true).as("hot"))
        val flagged = grams.join(broadcast(hot), Seq("g"), "left")
        val unsafe = flagged.groupBy(col("name"))
          .agg(sum(when(col("hot"), 1).otherwise(0)).as("h"))
          .filter(col("h") >= length(col("name")) + lit(2 - 3 * maxDist))
          .select(col("name"))
        val kept = flagged.filter(col("hot").isNull)
          .select(col("name"), col("g"))
          .join(broadcast(unsafe), Seq("name"), "left_anti")
        (kept, unsafe)
      }
    val blocked = blockGrams.as("a").join(blockGrams.as("b"),
        col("a.g") === col("b.g") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    val rescue = broadcast(rescueNames.select(col("name").as("s")))
      .join(n, col("s") =!= col("name"))
      .select(least(col("s"), col("name")).as("name_a"),
        greatest(col("s"), col("name")).as("name_b"))
    blocked.union(rescue).distinct()
  }

  private val allPairsSql =
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
      |FROM n a JOIN n b
      |  ON a.name < b.name AND levenshtein(a.name, b.name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_fuzzy_join" -> allPairsSql,
    // identical on purpose: the cap must not change the answer
    "q_fuzzy_join_capped" -> allPairsSql,
  )
}
