package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Pins the shape of the text lanes' vocabulary statistics.
  *
  * `Text2.unigramLmScores`'s toks⋈lp is corpus-scale on one side, and
  * AQE intermittently broadcast that side at the combined 100× stage
  * (r12 diagnosis — same class as the salted join's r11 fix): its
  * compressed map-output estimate wobbles under the adaptive broadcast
  * threshold on replicated text (HighlyCompressedMapStatus quantizes),
  * and the flipped plan builds a token-scale HashedRelation
  * single-threaded on the driver with the probe side coalesced to ONE
  * task — 3.3 s → 20–28 s. The shuffle_hash hints pin the
  * broadcast-free shape; this spec fails if a hint is dropped or the
  * planner stops honoring it.
  *
  * `Text.tfidfTopOf` and `Search.bm25Of` join nothing row-scale at all.
  * bm25 is pinned as a no-join plan with one tokenize pass. tfidf ships
  * no tf row: the raw rows cross one `doc_id` exchange that merges each
  * doc, tf is counted in place above it by `term_counts`, and df is a
  * vocabulary-sized aggregate broadcast back — pinned whether the input
  * is one file or many, with its rows checked against the former join
  * shape and across one-file, many-file and spread inputs.
  */
class TextPlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  /** The nodes of one stage: `p` and its subtree down to, not into, the
    * next stage boundary.
    */
  private def within(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: QueryStageExec | _: Exchange | _: ReusedExchangeExec => Nil
    case _ => p +: p.children.flatMap(within)
  }

  /** `body` over an 8-file parquet copy of the sf0.001 documents. */
  private def withEightFiles(body: DataFrame => Unit): Unit = {
    val copy = java.nio.file.Files.createTempDirectory("graft-tfidf-split").toString
    try {
      Tables.documents(spark, dir).repartition(8)
        .write.mode("overwrite").parquet(copy)
      val many = spark.read.parquet(copy)
      assert(many.rdd.getNumPartitions > 1)
      body(many)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(copy))
  }

  test("tfidf ships no tf row: one doc_id exchange, df broadcast back") {
    // The raw (doc_id, text) rows cross one hash exchange on doc_id, under
    // the collect_list merge; tf is tokenized above it and never shipped.
    // df (with N as the df of "") is the one other hash exchange, on w
    // over partial_count, and its final aggregate is the build side of
    // the one BroadcastHashJoin. The sort ships only the top-k rows. One
    // scan, no spread, no pinned checkpoint scan — over a one-file table
    // and over a many-file copy of it alike.
    def check(label: String, docs: DataFrame): Unit = {
      val df = graft.ops.Text.tfidfTopOf(docs, 3)
      val p = finalPlan(df).split("== Initial Plan ==").head
      val plan = graft.tools.PlanDump.nodes(df.queryExecution.executedPlan)
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }.distinctBy(_.id)
      def mapSide(e: SparkPlan) = within(e.children.head)
      def partialOn(e: SparkPlan, fn: String) = mapSide(e).exists {
        case a: BaseAggregateExec => a.aggregateExpressions
          .exists(x => x.mode == Partial && x.aggregateFunction.prettyName == fn)
        case _ => false
      }
      def keyedOn(e: ShuffleExchangeExec, c: String) = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map(_.references.head.name) == Seq(c)
        case _ => false
      }
      val byDoc = shuffles.filter(keyedOn(_, "doc_id"))
      assert(byDoc.size == 1 && partialOn(byDoc.head, "collect_list"),
        s"$label: expected one doc_id exchange under the collect_list merge:\n$p")
      val byTerm = shuffles.filter(keyedOn(_, "w"))
      assert(byTerm.size == 1 && partialOn(byTerm.head, "count"),
        s"$label: expected one w exchange over partial_count:\n$p")
      // no tokens below any other exchange; the final sort ships only
      // the rows that pass the top-k filter over the per-doc window
      for (e <- shuffles if !byTerm.contains(e)) e.outputPartitioning match {
        case _: RangePartitioning => assert(mapSide(e).exists {
          case f: FilterExec => (f.child match {
            case a: InputAdapter => a.child
            case c => c
          }).isInstanceOf[WindowExec]
          case _ => false
        }, s"$label: the sort must sit on the top-k filter:\n$p")
        case h: HashPartitioning if !byDoc.contains(e) =>
          fail(s"$label: a third hash exchange, $h:\n$p")
        case _ => assert(!mapSide(e).exists(_.isInstanceOf[GenerateExec]),
          s"$label: tokens shipped below ${e.outputPartitioning}:\n$p")
      }
      val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.size == 1, s"$label: expected one BroadcastHashJoin:\n$p")
      val build = bhj.head.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.left
        case _ => bhj.head.right
      }
      assert((graft.tools.PlanDump.nodes(build).collectFirst { case a: BaseAggregateExec => a } match {
        case Some(a) => a.groupingExpressions.map(_.references.head.name) == Seq("w") &&
          a.aggregateExpressions.map(x => (x.mode, x.aggregateFunction.prettyName)) ==
            Seq((Final, "count"))
        case None => false
      }), s"$label: the broadcast side must be the df aggregate:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$label: tfidf must not join row-scale sides:\n$p")
      assert("FileScan".r.findAllIn(p).size == 1, s"$label: expected one scan:\n$p")
      assert(!p.contains("REPARTITION_BY_NUM"), s"$label: raw text spread:\n$p")
      assert(!p.contains("Scan ExistingRDD"), s"$label: nothing may be pinned:\n$p")
    }
    check("one file", Tables.documents(spark, dir))
    withEightFiles(many => check("8 files", many))
  }

  test("tfidf rows do not depend on how the table is split or spread") {
    val want = graft.ops.Text.tfidfTopOf(Tables.documents(spark, dir), 3).collect().toSeq
    assert(want.nonEmpty)
    assert(graft.ops.Text.tfidfTopOf(Tables.documentsSpread(spark, dir), 3)
      .collect().toSeq == want, "documentsSpread")
    withEightFiles(many =>
      assert(graft.ops.Text.tfidfTopOf(many, 3).collect().toSeq == want, "8 files"))
  }

  test("tfidf rows equal the tf-df join shape on blank, null and repeated docs") {
    import spark.implicits._
    // The shape before the single-pass rewrite: tf pinned, df a second
    // aggregate shuffle-hash-joined back, N the distinct doc_ids of tf.
    def joinShape(docs: DataFrame, k: Int): DataFrame = {
      val toks = docs
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ", -1)).as("w"))
        .filter(col("w") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = tf.select(col("doc_id")).distinct().agg(count(lit(1)).as("n"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("w").asc)
      tf.join(df.hint("shuffle_hash"), "w")
        .crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") *
          log(col("n").cast("double") / col("df").cast("double")), 6))
        .withColumn("rk", row_number().over(win).cast("long"))
        .filter(col("rk") <= k)
        .select(col("doc_id"), col("rk"), col("w").as("term"), col("score"))
        .orderBy("doc_id", "rk")
    }
    // doc 2 empty, 3 all spaces, 4 null: no token, so not in N. Doc 5 is
    // a lone tab, which splitting on ' ' keeps as a token — and every
    // doc with a token holds a standalone tab, so that term's
    // df = N and its score is ln(1) = 0. Doc 6 appears twice; its rows
    // merge into one doc (the double space is an empty token).
    val docs = Seq[(Long, String)](
      (1L, "Spark filter \t spark"), (2L, ""), (3L, "   "), (4L, null),
      (5L, "\t"), (6L, "filter \t stream"), (6L, "spark  x \t"),
      (7L, "\t stream stream"))
      .toDF("doc_id", "text").repartition(3)
    for (k <- Seq(2, 10)) {
      val got = graft.ops.Text.tfidfTopOf(docs, k).collect().toSeq
      assert(got == joinShape(docs, k).collect().toSeq, s"k=$k")
      assert(got.map(_.getLong(0)).distinct == Seq(1L, 5L, 6L, 7L))
      if (k == 10)
        assert(got.filter(_.getString(2) == "\t").map(_.getDouble(3))
          == Seq(0.0, 0.0, 0.0, 0.0))
    }
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
