package graft

/** Pins the join strategy of the two text-lane vocabulary joins whose
  * corpus-scale side AQE intermittently broadcast at the combined 100×
  * stage (r12 diagnosis — same class as the salted join's r11 fix):
  *
  *  - `Text.tfidfTopOf`'s tf⋈df: tf is O(doc·terms) by design, but its
  *    compressed map-output estimate wobbles under the adaptive
  *    broadcast threshold on replicated text (HighlyCompressedMapStatus
  *    quantizes), and the flipped
  *    plan builds a tens-of-millions-row HashedRelation single-threaded
  *    on the driver with the probe side coalesced to ONE task —
  *    7.7 s → 29–41 s, roughly every other run.
  *  - `Text2.unigramLmScores`'s toks⋈lp: same flip, 3.3 s → 20–28 s.
  *
  * The shuffle_hash hints pin the broadcast-free shape; this spec fails
  * if a hint is dropped or the planner stops honoring it.
  */
class TextPlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("tfidf tf-df join plans as ShuffledHashJoin, never a broadcast") {
    val p = finalPlan(graft.ops.Text.qTfidfTop(spark, dir))
    assert(p.contains("ShuffledHashJoin"),
      s"expected the hinted shuffled-hash strategy:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"neither side of tf-df may be broadcast:\n$p")
  }

  test("unigram-LM toks-lp join plans as ShuffledHashJoin, never a broadcast") {
    val p = finalPlan(graft.ops.Text2.qUnigramLm(spark, dir))
    assert(p.contains("ShuffledHashJoin"),
      s"expected the hinted shuffled-hash strategy:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"neither side of toks-lp may be broadcast:\n$p")
  }

  // r12 policy sweep: every further join with a corpus-scale-by-design
  // side carries a pinned strategy (SCALE.md §combined-stage) — the
  // distinct-gram semi join (substr), the eval-gram left join
  // (decontaminate), and both unigram-type joins (PMI; the 1-row totals
  // ride BroadcastNestedLoopJoin cross joins). bm25's former tf⋈dl pin
  // was retired in r18: the single-pass shape has no doc-scale join
  // left to pin (pinned below as no-join + one exchange instead).

  test("exact-substr dup semi join is pinned shuffled-hash") {
    val p = finalPlan(graft.ops.Search.qDedupSubstr(spark, dir))
    assert(p.contains("ShuffledHashJoin"), s"expected shuffled-hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the distinct-gram side must not be broadcast:\n$p")
  }

  test("decontaminate eval-gram join is pinned shuffled-hash") {
    val p = finalPlan(graft.ops.Search.qDecontaminate(spark, dir))
    assert(p.contains("ShuffledHashJoin"), s"expected shuffled-hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the eval-gram side must not be broadcast:\n$p")
  }

  test("bm25 is single-pass: no doc-scale join, one token exchange") {
    // r18 shape: per-term tf is conditional aggregation inside the SAME
    // groupBy(doc_id) that counts dl, and stats+df are one 1-row
    // broadcast — so the plan must carry NO row-scale join of any
    // strategy and exactly one hashpartitioning(doc_id) exchange (the
    // old shape tokenized twice and shuffle-hash-joined tf⋈dl)
    val p = finalPlan(graft.ops.Search.qBm25Search(spark, dir))
      .split("== Initial Plan ==").head // final AQE plan only
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"bm25 must not join doc-scale sides at all:\n$p")
    val tokenizes = "Generate explode".r.findAllIn(p).size
    assert(tokenizes == 1,
      s"expected exactly one tokenize pass, got $tokenizes:\n$p")
  }

  test("PMI unigram joins are pinned shuffled-hash, never broadcast-hash") {
    val p = finalPlan(graft.ops.Text2.qPmiBigrams(spark, dir))
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      s"expected both unigram joins shuffled-hash:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"no type-scale side may be broadcast:\n$p")
  }
}
