package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup (the standard toolbox for
  * training-corpus dedup).
  *
  * Scale design: every pipeline here is "narrow per-doc expansion →
  * aggregate by a bounded key → self-join only within LSH buckets". The
  * candidate-pair join is always on an LSH key (band signature / bucket
  * bits), never all-pairs, so the shuffle volume is O(docs × perms) and the
  * join fan-out is bounded by bucket occupancy — and every pair-emitting
  * key is CAPPED (the MinHash band cap, the Jaccard dfCap), so no hot
  * bucket can ever turn a bucketed join quadratic at 100 TB.
  *
  * Determinism: permutation hashes are md5 strings (identical in Spark and
  * DuckDB), min-hashing is lexicographic MIN over those strings, so the
  * oracle reproduces signatures exactly — no engine-specific hash function.
  */
object Dedup {

  /** THE exact-dedup fingerprint: md5 of the lowercased alphanumerics
    * of a text column — one definition shared by the dedup lane, the
    * incremental pipeline, and the curation composite so the
    * normalization can never silently diverge between them.
    */
  def exactFp(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", "").cast("binary"))

  /** Exact dedup: count vs distinct-fingerprint count per source
    * (fingerprint = md5 of normalized text, the [[Text.qFingerprint]] key).
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("fp", exactFp(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("fp")).as("n_unique"))
      .orderBy("source")
  }

  /** One md5 per shingle reduced to a BIGINT via an integer Horner hash of
    * the first 8 hex chars — pure `ascii`/`substr`/arithmetic shared
    * verbatim by Spark SQL and DuckDB, so both engines derive identical
    * permutation inputs without any hex-parse builtin.
    */
  private[ops] def hornerH(mcol: String): String =
    (2 to 8).foldLeft(s"CAST(ascii(substr($mcol, 1, 1)) AS BIGINT)") {
      (acc, i) => s"($acc * 31 + ascii(substr($mcol, $i, 1)))"
    }

  /** Permutation p of hash h: the classic (a·h + b) mod P family with
    * P = 1e9+7 — integer-only, overflow-free in 64 bits, engine-agnostic.
    * The multipliers are 16 INDEPENDENT large constants: small or
    * arithmetically-related multipliers leave adjacent permutations
    * correlated (the same shingle wins whole bands and spurious candidate
    * pairs appear). All a < 9e9 so a·(h mod P) stays below 2^63.
    * p is inlined so each permutation is a plain column expression.
    */
  private val permA = Seq(
    2654435761L, 2246822519L, 3266489917L, 668265263L,
    374761393L, 4101842887L, 3550635107L, 2685821657L,
    1181783497L, 7046029277L, 4415386973L, 6148914691L,
    8526495043L, 5675921253L, 1779033703L, 3144134277L)

  private def permV(p: Int): String =
    s"((${permA(p)} * (h % 1000000007) + ${362437L + 97003L * p}) % 1000000007)"

  /** MinHash + banded LSH candidate pairs.
    * 16 permutations (mh_p = MIN over shingles of perm_p(h(shingle))),
    * 4 bands × 4 rows; two docs are candidates iff a whole band matches.
    * Collision probability ≈ 1-(1-j⁴)⁴ for Jaccard j — steep around j≈0.6.
    * Cost shape: one md5 per (doc,shingle), then 16 integer ops each —
    * the signature build is map-side partial-min, one shuffle on
    * (doc_id, p), and the candidate join touches only band-key buckets.
    */
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.documentsSpread(spark, dir))
      .orderBy("doc_a", "doc_b")

  /** Band buckets hotter than this are dropped before the pair
    * self-join (see [[minhashPairsOf]]). 64 is far above any bucket a
    * near-dup cluster produces (clusters are small by construction)
    * and far below the occupancy where the O(b²) pair emission hurts —
    * on the gate corpora the deepest bucket holds 2 docs, so the cap
    * never fires there and the capped pipeline is bit-identical to the
    * exact one; on a boilerplate-replicated corpus it is the difference
    * between linear and quadratic candidate growth (SCALE.md's
    * measured-scaling `minhash cap` rows).
    */
  val MinhashBandCap = 64L

  /** The MinHash+LSH candidate pipeline over any (doc_id, text) frame.
    * No shingle-distinct here: MIN is duplicate-insensitive, so skipping
    * the dedup shuffle changes nothing. All 16 permutation minima are
    * computed as 16 agg columns in ONE groupBy(doc_id) — map-side
    * partial mins, a single shuffle of 16 longs per doc, no row
    * explosion. Band keys are then a narrow per-doc projection.
    *
    * `bucketCap` bounds the self-join fan-out: a (band, band_key)
    * bucket holding b docs emits b(b−1)/2 candidate pairs, and a
    * boilerplate-heavy corpus (many docs sharing identical band
    * minima — the exact corpus dedup is FOR) makes one bucket
    * quadratic. Bucket occupancy is counted by a window over the SAME
    * (band, band_key) exchange the pair join consumes — zero extra
    * passes over the corpus (the Jaccard/fuzzy lanes use a count-
    * prepass + anti-join instead because their posting frame feeds a
    * groupBy, not a key-partitioned join; here the join's own shuffle
    * is the free ride). Rows in buckets above the cap are filtered
    * before any pair is emitted.
    * Semantics of the drop: a bucket with more than `bucketCap`
    * members is boilerplate, and boilerplate duplication is owned by
    * the EXACT dedup stage (identical texts have identical
    * fingerprints); near-dup pairs that share any cold band survive.
    * Pass Long.MaxValue for the exact uncapped control.
    */
  def minhashPairsOf(docs: DataFrame,
    bucketCap: Long = MinhashBandCap): DataFrame = {
    val sh = docs
      .withColumn("w", split(lower(col("text")), " ", -1))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 3 THEN
          |  transform(sequence(1, size(w) - 2),
          |    i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
          |                   element_at(w, i + 2)))
          |ELSE CAST(NULL AS ARRAY<STRING>) END""".stripMargin)).as("s"))
      .withColumn("m", md5(col("s").cast("binary")))
      .withColumn("h", expr(hornerH("m")))
    val minAggs = (0 until 16).map(p => min(expr(permV(p))).as(s"mh$p"))
    val sigs = sh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val bandStructs = (0 until 4).map { bd =>
      val key = (0 until 4).map(i => s"CAST(mh${4 * bd + i} AS STRING)")
        .mkString("md5(concat_ws(',', ", ", ", "))")
      s"struct(CAST($bd AS BIGINT) AS band, $key AS band_key)"
    }.mkString("array(", ", ", ")")
    val bands = sigs
      .select(col("doc_id"), explode(expr(bandStructs)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.band_key").as("band_key"))
    val kept =
      if (bucketCap == Long.MaxValue) bands
      else {
        // Occupancy via ONE window over the (band, band_key) exchange
        // the pair join needs anyway — unlike a count-prepass +
        // broadcast anti-join, this adds NO second signature pass (the
        // plan-audit found the prepass recomputing the full md5/min
        // pipeline: subtree canonicalization diverges across the join
        // sides, so nothing was reused and the "cheap" prepass doubled
        // the query). Hot buckets empty out entirely: every member row
        // fails occ <= cap together.
        import org.apache.spark.sql.expressions.Window
        val wB = Window.partitionBy(col("band"), col("band_key"))
        bands.withColumn("occ", count(lit(1)).over(wB))
          .filter(col("occ") <= bucketCap)
          .drop("occ")
      }
    val a = kept.as("a")
    val b = kept.as("b")
    a.join(b, col("a.band") === col("b.band")
        && col("a.band_key") === col("b.band_key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard via inverted posting lists.
    * Per-doc shingle sets are built map-side (array_distinct — no dedup
    * shuffle) and each exploded row carries the doc's set cardinality, so
    * posting lists collect (doc_id, n) structs per shingle (one shuffle),
    * pairs are emitted from each list (i<j over the doc_id-sorted list,
    * so each pair appears once per shared shingle) with both
    * cardinalities already attached, and a final count per pair (second
    * shuffle) yields |A∩B| with |A|,|B| in the grouping key. Two
    * shuffles, no joins, and the corpus is scanned exactly once —
    * versus the naive four-shuffle distinct + self-join + card-join
    * shape. At scale, hot shingles (stop-phrases) get a document-
    * frequency cap (filter on size(ds)) before the pair explosion —
    * this corpus has none, so lists stay tiny.
    */
  /** All co-shingle pairs with exact Jaccard ≥ minJ (see
    * [[qDedupJaccard]] for the shape discussion).
    */
  def jaccardPairs(spark: SparkSession, dir: String, minJ: Double): DataFrame =
    jaccardPairsOf(Tables.documentsSpread(spark, dir), minJ)

  /** Same pipeline over any (doc_id, text) frame.
    *
    * `dfCap` bounds the document frequency of shingles allowed to emit
    * pairs: a posting list longer than the cap is a stop-phrase (boiler-
    * plate shared by half the corpus) whose pair explosion is O(df²) —
    * one shingle with df = 1 M emits 5·10¹¹ pairs. Capped semantics are
    * the standard lower bound: |A|,|B| stay the full per-doc shingle
    * cardinalities, only the intersection count ignores hot shingles, so
    * reported jaccard ≤ true jaccard and pairs sharing ONLY boilerplate
    * drop out — exactly what a dedup pipeline wants. Default ∞ keeps the
    * exact semantics for the oracle-checked query; at 100 TB you always
    * set a cap (SCALE.md's measured-scaling `dfCap` rows show the
    * bounded vs quadratic growth).
    */
  def jaccardPairsOf(docsIn: DataFrame, minJ: Double,
    dfCap: Long = Long.MaxValue): DataFrame = {
    val docs = docsIn
      .withColumn("w", split(lower(col("text")), " ", -1))
      .withColumn("sh", expr(
        """CASE WHEN size(w) >= 3 THEN
          |  array_distinct(transform(sequence(1, size(w) - 2),
          |    i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
          |                   element_at(w, i + 2))))
          |ELSE array() END""".stripMargin))
    val posts = docs
      .select(explode(col("sh")).as("s"), col("doc_id"),
        size(col("sh")).cast("long").as("n"))
    // The cap is enforced BEFORE posting lists are collected: a first
    // count-only pass (map-side partial counts, cheap shuffle of (s, n))
    // finds the hot shingles, which are by definition few — boilerplate
    // phrases — so they broadcast, and the anti-join removes them without
    // ever materializing a 100 M-entry collect_list on one key. Costs one
    // extra corpus scan; only taken when a cap is actually set.
    val kept =
      if (dfCap == Long.MaxValue) posts
      else {
        val hot = posts.groupBy(col("s"))
          .agg(count(lit(1)).as("df")).filter(col("df") > dfCap)
          .select(col("s"))
        posts.join(broadcast(hot), Seq("s"), "left_anti")
      }
    kept
      .groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |    b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |                a.n AS na, b.n AS nb))))""".stripMargin)).as("p"))
      .select(col("p.*"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def qDedupJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir, 0.1).orderBy("doc_a", "doc_b")

  /** Capped-DF Jaccard (dfCap = 4): the 100 TB configuration of
    * [[jaccardPairsOf]] — stop-phrases above the cap never emit pairs.
    * Oracle mirrors the cap with a HAVING on shingle DF, so the lower-
    * bound semantics are pinned exactly, not just "fewer rows".
    */
  val JaccardDfCap = 4L

  def qDedupJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsOf(Tables.documentsSpread(spark, dir), 0.1, JaccardDfCap)
      .orderBy("doc_a", "doc_b")

  /** Production near-dup verification — the at-scale playbook's step 2:
    * exact Jaccard computed ONLY on the MinHash candidate pairs, per pair
    * via array_intersect of the two docs' (distinct, sorted) shingle
    * sets. Cost is O(candidates × avg set size) with NO posting-list
    * pair explosion — the inverted-index pipeline ([[jaccardPairsOf]])
    * answers "all co-shingle pairs", this answers "score what LSH
    * surfaced", which is what a 100 TB run actually executes. Keeps
    * pairs at/above the duplicate threshold 0.5.
    */
  def qDedupVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    candidateJaccard(docs, minhashPairsOf(docs), 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact Jaccard on given candidate pairs over any (doc_id, text)
    * frame: shingle sets ride the two joins as array columns (shuffle on
    * doc id), intersections run per-pair, narrow.
    */
  def candidateJaccard(docs: DataFrame, cand: DataFrame,
    minJ: Double): DataFrame = {
    val sets = docs
      .withColumn("w", split(lower(col("text")), " ", -1))
      .select(col("doc_id"), expr(
        """CASE WHEN size(w) >= 3 THEN
          |  array_sort(array_distinct(transform(sequence(1, size(w) - 2),
          |    i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
          |                   element_at(w, i + 2)))))
          |ELSE array() END""".stripMargin).as("shl"))
    // both fetch joins pair a corpus-scale side with the corpus-scale
    // shingle-set frame (wide, replication-compressible — the r12 AQE
    // wobble surface): pin shuffle_hash building the NARROW pair-id side
    // first, then merge for the second fetch where both sides are wide
    // (SMJ spills; a hash map of shingle arrays would not)
    cand.select(col("doc_a"), col("doc_b"))
      .hint("shuffle_hash")
      .join(sets.select(col("doc_id").as("doc_a"), col("shl").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shl").as("shb"))
        .hint("merge"), "doc_b")
      .withColumn("shared", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("shared")))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** LSH-candidate quality measurement: every production dedup pipeline
    * needs to know what its candidate generator is worth. Joins the
    * MinHash band candidates against exact Jaccard over all co-shingle
    * pairs and reports candidate count, how many could be scored, how
    * many are true near-dups (J ≥ 0.5), and the mean Jaccard (decimal-
    * summed so the average is order-independent). One extra shuffle on
    * the pair key over the two underlying pipelines.
    *
    * The merge hint is load-bearing: BOTH sides are pair-scale (they
    * grow together with the near-dup mass), so the join must co-
    * partition on the pair key — at 10× replication AQE's estimates
    * still picked a broadcast here and the ~250 k-pair build blew past
    * `spark.driver.maxResultSize` (found by the scaled gate run; the
    * hint is the fix, not a bigger driver).
    */
  def qDedupQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cand = qDedupMinhash(spark, dir).select(col("doc_a"), col("doc_b"))
    val jac = jaccardPairs(spark, dir, 0.0)
    cand.join(jac.hint("merge"), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_candidates"),
        count(col("jaccard")).as("n_scored"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_good"),
        round(sum(coalesce(col("jaccard"), lit(0.0))
            .cast(DecimalType(18, 12))).cast("double") / count(lit(1)), 6)
          .as("avg_jaccard"))
  }

  /** 16-bit SimHash over distinct word tokens; bit b of md5(word) is
    * extracted from the hex digits so Spark and DuckDB agree bit-for-bit.
    * Docs sharing a full signature are duplicate groups.
    */
  /** ±1 contribution of bit `b` (0..15) from a hex md5 string column —
    * text shared verbatim between Spark SQL (`div`→intdiv) and DuckDB
    * (`//`), generated per engine.
    */
  private def bitContrib(b: Int, intdiv: String): String =
    s"CASE WHEN (CAST(instr('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1 AS BIGINT) " +
      s"$intdiv ${1 << (3 - b % 4)}) % 2 = 1 THEN 1 ELSE -1 END"

  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashGroupsOf(Tables.documentsSpread(spark, dir))

  /** Same pipeline over any (doc_id, text) frame.
    * One md5 per distinct (doc, word); per-doc token dedup happens
    * map-side via array_distinct (no distinct shuffle), and all 16
    * bit-sums ride a single groupBy(doc_id) with map-side partial
    * aggregation — no 16× row explosion, one shuffle end-to-end.
    */
  def simhashGroupsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " ", -1))).as("w"))
      .withColumn("m", md5(col("w").cast("binary")))
    val vAggs = (0 until 16).map(b =>
      sum(expr(bitContrib(b, "div"))).as(s"v$b"))
    val sigExpr = concat((0 until 16).map(b =>
      when(col(s"v$b") > 0, "1").otherwise("0")): _*)
    toks
      .groupBy(col("doc_id"))
      .agg(vAggs.head, vAggs.tail: _*)
      .select(sigExpr.as("sig"))
      .groupBy(col("sig")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy("sig")
  }

  /** Near-dup resolution: connected components over the MinHash candidate
    * pairs, canonical = MIN(doc_id) of each component. Iterative min-label
    * propagation to a fixpoint — each round is one join + one aggregate on
    * the candidate GRAPH (vastly smaller than the corpus), the same loop
    * GraphX/label-propagation runs at scale; iteration count is bounded by
    * component diameter (near-dup clusters are tiny by construction).
    */
  /** Size threshold below which the component resolution runs as a
    * driver-side union-find over the collected candidate pairs. The
    * candidate graph is orders of magnitude smaller than the corpus; when
    * it fits comfortably on the driver, a union-find beats an iterative
    * DataFrame loop whose per-iteration planning/codegen dwarfs the tiny
    * joins. Above the threshold, the distributed label-propagation loop
    * runs instead — an AQE-style size-based strategy choice.
    */
  val ResolveDriverThreshold = 1000000

  def qDedupResolve(spark: SparkSession, dir: String): DataFrame =
    resolveComponents(spark,
      minhashPairsOf(Tables.documentsSpread(spark, dir)),
      ResolveDriverThreshold)

  /** Connected components over candidate pairs; canonical = component MIN.
    * `driverThreshold` picks the strategy (see [[ResolveDriverThreshold]];
    * pass 0 to force the distributed loop).
    *
    * Building it runs Spark jobs: `pairsDf` is cached and probed with
    * `collect()` when this method is called, not when the returned
    * frame runs; on the driver path the components are computed there
    * and the frame holds them as local rows. Above the threshold each
    * propagation round is an eager `localCheckpoint`: those snapshots
    * live in executor block storage with their lineage cut, so losing
    * an executor that holds a block fails the query instead of
    * recomputing it.
    */
  def resolveComponents(spark: SparkSession, pairsDf: DataFrame,
    driverThreshold: Long): DataFrame = {
    val pairs = pairsDf.cache()
    // ONE probe action both decides the strategy AND, on the driver
    // path, already holds the rows: limit(threshold+1) returns at most
    // `threshold` rows iff the true pair count is within the threshold
    // (r19 — the old count()-then-collect() pair of jobs paid a full
    // extra pass over the candidate pipeline for the same decision;
    // union-find over the collected rows is order-independent, so the
    // limit's row order cannot change the canonical mapping).
    val probe: Array[org.apache.spark.sql.Row] =
      if (driverThreshold >= Int.MaxValue) pairs.collect()
      else pairs.limit(driverThreshold.toInt + 1).collect()
    if (driverThreshold >= Int.MaxValue || probe.length <= driverThreshold) {
      // driver-side union-find (path-halving) over the small graph
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val p = parent.getOrElse(r, r)
          parent(r) = parent.getOrElse(p, p)
          r = parent(r)
        }
        r
      }
      probe.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN so the canonical is the minimum
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a))
        parent.getOrElseUpdate(b, find(b))
      }
      import spark.implicits._
      parent.keys.toSeq.sorted.map(d => (d, find(d)))
        .toDF("doc_id", "canonical_id")
        .orderBy("doc_id")
    } else {
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .cache()
      var labels = edges.select(col("src").as("doc")).distinct()
        .withColumn("root", col("doc"))
      def propagate(ls: DataFrame): DataFrame = {
        val neighborMin = edges
          .join(ls.withColumnRenamed("doc", "nd"), col("dst") === col("nd"))
          .groupBy(col("src")).agg(min(col("root")).as("nroot"))
        ls.join(neighborMin.withColumnRenamed("src", "doc2"),
            col("doc") === col("doc2"), "left")
          .select(col("doc"),
            least(col("root"), coalesce(col("nroot"), col("root"))).as("root"))
      }
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < 25) {
        // Two propagation rounds per convergence check (tiny diameters).
        // localCheckpoint (eager) truncates the lineage each iteration:
        // without it the plan doubles per round and by iteration ~15 the
        // optimizer re-plans a 2^15-deep tree — the classic iterative-
        // algorithm failure mode on Spark. Checkpointed, each round plans
        // against a materialized leaf, so 25 iterations cost 25 flat
        // joins. (On a cluster use reliable checkpoint() to survive
        // executor loss; localCheckpoint is the single-JVM equivalent.)
        val prev = labels
        val next = propagate(propagate(labels)).localCheckpoint(true)
        changed = next.withColumnRenamed("root", "nr")
          .join(prev, "doc").filter(col("nr") =!= col("root")).count()
        labels = next
        iter += 1
      }
      labels.select(col("doc").as("doc_id"), col("root").as("canonical_id"))
        .orderBy("doc_id")
    }
  }

  /** End-to-end dedup decision: candidates → connected components →
    * keep the highest-quality member of each near-dup cluster (ties →
    * min doc_id). This is the operator a training pipeline actually
    * runs: everything upstream (minhash, resolve, quality) exists to
    * produce this keep/drop list. Per-cluster selection is one window
    * over the (tiny) resolved-cluster frame — the corpus-sized quality
    * scan stays narrow and the shuffle key is canonical_id, whose
    * groups are bounded by near-dup cluster size.
    */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    keepBestOf(
      resolveComponents(spark, minhashPairsOf(docs), ResolveDriverThreshold),
      Text.qualityOf(docs))
  }

  /** Per-cluster argmax over any (doc_id, canonical_id) × (doc_id, ...,
    * quality_score) pair of frames.
    *
    * Shape: one `groupBy(canonical_id)` with `count` + `max_by` — NOT a
    * window. A window over `canonical_id` hashes every member of a
    * cluster to one task and sorts it there, so a single mega-cluster
    * (the realistic 100 TB shape: near-dup crawls collapse millions of
    * mirror pages into one component) serializes on one core and can
    * OOM it. `max_by(struct(doc_id, quality_score), struct(quality_score,
    * -doc_id))` is a declarative aggregate with map-side partial merge:
    * each input partition reduces its slice of the cluster to ONE
    * candidate row before the exchange, so the shuffle carries
    * O(partitions) rows per cluster regardless of cluster size and no
    * task ever holds a whole cluster. The `-doc_id` component encodes
    * the (quality DESC, doc_id ASC) tie-break as a plain max; doc_id is
    * a non-negative int64, so negation cannot overflow.
    */
  def keepBestOf(clusters: DataFrame, quality: DataFrame): DataFrame = {
    clusters
      // both sides doc-scale (a verdict/score per document): pinned per
      // the r12 policy, building the narrow score side per partition
      .join(quality.select(col("doc_id"), col("quality_score"))
        .hint("shuffle_hash"), "doc_id")
      .groupBy(col("canonical_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max_by(
          struct(col("doc_id"), col("quality_score")),
          struct(col("quality_score"), (-col("doc_id")).as("tie"))
        ).as("best"))
      .select(col("canonical_id"), col("best.doc_id").as("keep_doc_id"),
        col("n_members"), col("best.quality_score").as("best_score"))
      .orderBy("canonical_id")
  }

  /** Embedding-cosine near-dup: multi-table hyperplane LSH candidates
    * ([[Sim.withBuckets]] / [[HyperplaneLsh]] — default 4 tables × 8
    * bits), exact cosine only on candidates, threshold 0.3.
    */
  def qDedupEmbed(spark: SparkSession, dir: String): DataFrame =
    embedPairsOf(Tables.embeddingsSpread(spark, dir), 0.3)

  /** (t, bucket) groups hotter than this are dropped before the
    * embedding-LSH pair self-join — the [[MinhashBandCap]] move in the
    * embedding lane. Gate-scale occupancy tops out at 23 (sf0.1; 9 at
    * sf0.01), so 64 never fires there and capped == uncapped
    * bit-identically (spec-pinned); on an exactly-replicated corpus it
    * is the difference between linear and quadratic: the round-8 100×
    * text stage measured q_dedup_embed at 212 s uncapped (every base
    * vector's 100 identical copies share all 4 table buckets → C(100,2)
    * pair emission per bucket) — identical-vector mass belongs to the
    * exact/quantized dedup stage, not the LSH candidate join.
    */
  val EmbedBucketCap = 64L

  /** Same pipeline over any (vec_id, embedding) frame, geometry
    * parameterized. Shape: bucket assignment is a narrow per-row
    * projection (tables× explode), the self-join runs only within
    * (t, bucket) groups (occupancy ~n/2^bits — *tunable*, unlike the
    * fixed-16-bucket predecessor whose within-bucket join was O(n²/16)),
    * candidate pairs are deduped across tables BEFORE the embeddings are
    * re-attached, so the wide vectors cross the wire once per pair side,
    * not once per shared table. Scoring is the codegen'd native
    * expression — bit-identical to the zip_with/aggregate composition.
    * `bucketCap` bounds the within-bucket O(b²) emission via one
    * occupancy window over the SAME (t, bucket) exchange the join
    * consumes (zero extra corpus passes — the minhash band-cap idiom);
    * pass Long.MaxValue for the exact uncapped control.
    */
  def embedPairsOf(emb: DataFrame, minCos: Double,
    tables: Int = HyperplaneLsh.DefaultTables,
    bits: Int = HyperplaneLsh.DefaultBits,
    dim: Int = HyperplaneLsh.DefaultDim,
    bucketCap: Long = EmbedBucketCap): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val v0 = Sim.withBuckets(emb, tables, bits, dim)
      .select(col("vec_id"), col("t"), col("bucket"))
    val v =
      if (bucketCap == Long.MaxValue) v0
      else {
        import org.apache.spark.sql.expressions.Window
        val wB = Window.partitionBy(col("t"), col("bucket"))
        v0.withColumn("occ", count(lit(1)).over(wB))
          .filter(col("occ") <= bucketCap)
          .drop("occ")
      }
    val cand = v.as("a").join(v.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val e = emb.select(col("vec_id"), col("embedding"))
    // vector fetches: narrow pair ids ⋈ corpus-scale wide vectors — the
    // same pinned shapes as candidateJaccard's shingle fetches (r12
    // policy; the candidate join above stays deliberately unpinned — its
    // high-entropy (t, bucket) keys and narrow id rows don't exhibit the
    // compressed-map-stat wobble, reasoned in SCALE.md)
    cand
      .hint("shuffle_hash")
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
        .hint("merge"), "vb")
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .filter(col("cos") > minCos)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("va", "vb")
  }

  private val shingleSqlCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks))""".stripMargin

  /** The full MinHash pipeline as a reusable CTE chain ending in
    * `pairs(doc_a, doc_b)` — shared by the minhash and resolve oracles.
    */
  private lazy val minhashPairsCtes: String = {
    val minCols = (0 until 16)
      .map(p => s"    MIN(${permV(p)}) AS mh$p").mkString(",\n")
    val bandRows = (0 until 4).map { bd =>
      val key = (0 until 4).map(i => s"CAST(mh${4 * bd + i} AS VARCHAR)")
        .mkString("md5(concat_ws(',', ", ", ", "))")
      s"  SELECT doc_id, CAST($bd AS BIGINT) AS band, $key AS band_key FROM sigs"
    }.mkString("\n  UNION ALL\n")
    s"""toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
       |hs AS (
       |  SELECT doc_id, ${hornerH("md5(s)")} AS h FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |$minCols
       |  FROM hs GROUP BY doc_id),
       |bands AS (
       |$bandRows),
       |hotb AS (
       |  SELECT band, band_key FROM bands
       |  GROUP BY band, band_key HAVING COUNT(*) > $MinhashBandCap),
       |kb AS (
       |  SELECT * FROM bands bb
       |  WHERE NOT EXISTS (SELECT 1 FROM hotb h
       |    WHERE h.band = bb.band AND h.band_key = bb.band_key)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kb a JOIN kb b ON a.band = b.band
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS n_unique
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_resolve" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT a AS doc, a AS root FROM edges
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc)
         |SELECT doc AS doc_id, MIN(root) AS canonical_id
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT a AS doc, a AS root FROM edges
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (
         |  SELECT doc AS doc_id, MIN(root) AS canonical_id
         |  FROM reach GROUP BY doc),
         |q AS (${Text.qualityScoreSql}),
         |ranked AS (
         |  SELECT comp.canonical_id, comp.doc_id, q.quality_score,
         |    COUNT(*) OVER (PARTITION BY comp.canonical_id) AS n_members,
         |    ROW_NUMBER() OVER (PARTITION BY comp.canonical_id
         |      ORDER BY q.quality_score DESC, comp.doc_id ASC) AS rn
         |  FROM comp JOIN q ON q.doc_id = comp.doc_id)
         |SELECT canonical_id, doc_id AS keep_doc_id,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  quality_score AS best_score
         |FROM ranked WHERE rn = 1 ORDER BY canonical_id""".stripMargin,
    "q_dedup_quality" ->
      s"""WITH $minhashPairsCtes,
         |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         |card AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |jac AS (
         |  SELECT doc_a, doc_b,
         |    CAST(shared AS DOUBLE)/(ca.n + cb.n - shared) AS j
         |  FROM inter
         |  JOIN card ca ON ca.doc_id = doc_a
         |  JOIN card cb ON cb.doc_id = doc_b)
         |SELECT COUNT(*) AS n_candidates, COUNT(j) AS n_scored,
         |  CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         |  round(CAST(SUM(CAST(coalesce(j, 0.0) AS DECIMAL(18,12))) AS DOUBLE)
         |    / COUNT(*), 6) AS avg_jaccard
         |FROM pairs p
         |LEFT JOIN jac ON p.doc_a = jac.doc_a AND p.doc_b = jac.doc_b""".stripMargin,
    "q_dedup_jaccard" ->
      (shingleSqlCte +
        """,
          |card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT doc_a, doc_b,
          |  CAST(shared AS DOUBLE)/(ca.n + cb.n - shared) AS jaccard
          |FROM inter
          |JOIN card ca ON ca.doc_id = doc_a
          |JOIN card cb ON cb.doc_id = doc_b
          |WHERE CAST(shared AS DOUBLE)/(ca.n + cb.n - shared) >= 0.1
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_verify" ->
      s"""WITH $minhashPairsCtes,
         |sets AS (
         |  SELECT doc_id, list_sort(list(DISTINCT s)) AS shl
         |  FROM sh GROUP BY doc_id),
         |scored AS (
         |  SELECT p.doc_a, p.doc_b,
         |    len(list_intersect(a.shl, b.shl)) AS shared,
         |    len(a.shl) AS na, len(b.shl) AS nb
         |  FROM pairs p
         |  JOIN sets a ON a.doc_id = p.doc_a
         |  JOIN sets b ON b.doc_id = p.doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(shared AS DOUBLE)/(na + nb - shared) AS jaccard
         |FROM scored
         |WHERE CAST(shared AS DOUBLE)/(na + nb - shared) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_jaccard_capped" ->
      (shingleSqlCte +
        s""",
          |card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          |keep AS (
          |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $JaccardDfCap),
          |shk AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
          |inter AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
          |  FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT doc_a, doc_b,
          |  CAST(shared AS DOUBLE)/(ca.n + cb.n - shared) AS jaccard
          |FROM inter
          |JOIN card ca ON ca.doc_id = doc_a
          |JOIN card cb ON cb.doc_id = doc_b
          |WHERE CAST(shared AS DOUBLE)/(ca.n + cb.n - shared) >= 0.1
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_simhash" -> {
      val vCols = (0 until 16)
        .map(b => s"    SUM(${bitContrib(b, "//")}) AS v$b").mkString(",\n")
      val sigConcat = (0 until 16)
        .map(b => s"CASE WHEN v$b > 0 THEN '1' ELSE '0' END").mkString(", ")
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |  FROM documents),
         |h AS (SELECT doc_id, md5(w) AS m FROM toks),
         |v AS (
         |  SELECT doc_id,
         |$vCols
         |  FROM h GROUP BY doc_id),
         |sigs AS (SELECT doc_id, concat($sigConcat) AS sig FROM v)
         |SELECT sig, COUNT(*) AS cnt FROM sigs GROUP BY sig
         |HAVING COUNT(*) > 1 ORDER BY sig""".stripMargin
    },
    "q_dedup_embed" ->
      s"""WITH ${graft.ops.HyperplaneLsh.duckBucketCtes(
             graft.ops.HyperplaneLsh.DefaultTables,
             graft.ops.HyperplaneLsh.DefaultBits,
             graft.ops.HyperplaneLsh.DefaultDim)},
         |hotb AS (
         |  SELECT t, bucket FROM b
         |  GROUP BY t, bucket HAVING COUNT(*) > $EmbedBucketCap),
         |kb AS (
         |  SELECT * FROM b bb
         |  WHERE NOT EXISTS (SELECT 1 FROM hotb h
         |    WHERE h.t = bb.t AND h.bucket = bb.bucket)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b2.vec_id AS vb
         |  FROM kb a JOIN kb b2 ON a.t = b2.t AND a.bucket = b2.bucket
         |    AND a.vec_id < b2.vec_id),
         |e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |s AS (
         |  SELECT c.va, c.vb,
         |    list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      / (ea.nrm * eb.nrm) AS cos
         |  FROM cand c
         |  JOIN e ea ON ea.vec_id = c.va
         |  JOIN e eb ON eb.vec_id = c.vb)
         |SELECT va, vb, round(cos, 6) AS cos_sim FROM s
         |WHERE cos > 0.3 ORDER BY va, vb""".stripMargin,
  )
}
