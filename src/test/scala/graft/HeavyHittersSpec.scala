package graft

import graft.ops.HeavyHitters
import org.apache.spark.sql.functions._

/** Heavy hitters: the CMS prepass must (a) never underestimate — the
  * structural property that makes the two-pass answer EXACT — and (b)
  * produce exactly the tokens a full exact count produces.
  */
class HeavyHittersSpec extends SparkTestBase {

  test("two-pass result equals the exact group-by answer") {
    import spark.implicits._
    // skewed synthetic stream: token "hot" at 30%, "warm" at 5%, a long
    // tail of uniques — thresholds at 50‰ must keep exactly hot + warm
    val toks = (Seq.fill(300)("hot") ++ Seq.fill(50)("warm") ++
      (0 until 650).map(i => s"tail_$i")).toDF("t")
    val got = HeavyHitters.heavyHitters(toks, permille = 50L).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq("hot" -> 300L, "warm" -> 50L))
  }

  test("threshold arithmetic is integer-exact at the boundary") {
    import spark.implicits._
    // 1000 tokens at 5‰ → threshold exactly 5; a count-5 token is IN
    val toks = (Seq.fill(5)("edge") ++ Seq.fill(4)("under") ++
      (0 until 991).map(i => s"u_$i")).toDF("t")
    val got = HeavyHitters.heavyHitters(toks, permille = 5L).collect()
      .map(_.getString(0))
    assert(got.toSeq == Seq("edge"))
  }

  test("corpus query matches an exact spark-side recount") {
    val got = HeavyHitters.qHeavyHitters(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val toks = HeavyHitters.corpusTokens(spark, sfDir)
    val total = toks.count()
    val thr = (total * 5L + 999L) / 1000L
    val want = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .orderBy(col("cnt").desc, col("t").asc)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.nonEmpty, "sf0.001 corpus should have hot tokens at 5 permille")
    assert(got.toSeq == want.toSeq)
  }

  test("heavy-hitter answer is k-invariant under exact k-fold replication") {
    // k copies multiply every count AND the relative threshold by k, so
    // the same tokens clear it, each with exactly k times its count
    def answer(k: Int) = HeavyHitters.heavyHitters(
        Seq.fill(k)(HeavyHitters.corpusTokens(spark, sfDir)).reduce(_ union _),
        permille = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val base = answer(1)
    assert(base.nonEmpty, "sf0.001 corpus should have hot tokens at 5 permille")
    assert(answer(2) == base.map { case (t, n) => (t, 2L * n) })
  }

  test("the sketch estimate never underestimates any token's true count") {
    import spark.implicits._
    // collisions guaranteed: vocab 5000 > width 2048, so buckets mix
    // tokens — estimates inflate, but must NEVER dip below the truth
    val toks = (0 until 20000).map(i => s"w_${i % 5000}").toDF("t")
    val diag = HeavyHitters.estimates(toks)
    assert(diag.count() == 5000L)
    val under = diag.filter(col("est") < col("cnt")).count()
    assert(under == 0L, "CMS must be overestimate-only")
    val inflated = diag.filter(col("est") > col("cnt")).count()
    assert(inflated > 0L, "vocab > width must actually collide somewhere")
  }

  test("exactness survives guaranteed collisions end-to-end") {
    import spark.implicits._
    // one true heavy hitter over a colliding tail (vocab > width): the
    // exact second pass must strip every collision-inflated tail token
    // and must not lose the heavy one
    val toks = (Seq.fill(2000)("hot") ++
      (0 until 20000).map(i => s"w_${i % 4000}")).toDF("t")
    val got = HeavyHitters.heavyHitters(toks, permille = 50L).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq("hot" -> 2000L))
  }
}
