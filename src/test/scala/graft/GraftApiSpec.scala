package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `ops` operators work end-to-end on plain, ad-hoc frames — the
  * "switch from the reference to this library" path.
  */
class GraftApiSpec extends SparkTestBase {

  test("Core.wordCountTrLines over ad-hoc lines") {
    import spark.implicits._
    val got = ops.Core.wordCountTrLines(Seq("a b", "b [c]").toDF("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 1L, "" -> 2L))
  }

  test("Dedup candidates -> resolve composes") {
    val docs = Tables.documents(spark, sfDir)
    val pairs = ops.Dedup.minhashPairsOf(docs)
    val resolved = ops.Dedup.resolveComponents(spark, pairs,
      ops.Dedup.ResolveDriverThreshold)
    assert(resolved.columns.toSeq == Seq("doc_id", "canonical_id"))
    resolved.collect().foreach(r => assert(r.getLong(1) <= r.getLong(0)))
  }

  test("cosine_sim column == native query scores") {
    val e = Tables.embeddings(spark, sfDir).limit(5)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val self = e.select(
      call_function("cosine_sim", col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-9,
      s"self-cosine should be 1.0, got $c"))
  }

  test("Text lane runs on an ad-hoc corpus") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox and the lazy dog", "web"),
        (2L, "to be or not to be is the question of it", "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(ops.Text.qualityOf(docs).count() == 2)
    assert(ops.Text.langIdOf(docs).collect().forall(_.getString(1) == "en"))
    assert(ops.Text.fingerprintOf(docs).select("fp").distinct().count() == 2)
    assert(ops.Text.chunksOf(docs).count() == 2) // one chunk per short doc
    assert(ops.Text.repetitionOf(docs).count() == 2)
  }

  test("Graft round-4 surface: argv pipe, capped jaccard, LSH, tfidf") {
    import spark.implicits._
    // argv pipe: argument with a space survives unsplit
    val piped = ops.Core.pipeArgv(Seq("keep me", "drop").toDS().repartition(1),
      Seq("grep", "keep me")).collect()
    assert(piped.toSeq == Seq("keep me"))
    // capped jaccard: a corpus-wide stop-shingle emits no pairs at cap 1
    val docs = Seq((1L, "x y z common tail phrase"),
        (2L, "a b c common tail phrase"),
        (3L, "p q r common tail phrase")).toDF("doc_id", "text")
    assert(ops.Dedup.jaccardPairsOf(docs, 0.01).count() == 3)
    assert(ops.Dedup.jaccardPairsOf(docs, 0.01, dfCap = 1).count() == 0)
    // hyperplane buckets: one row per table, geometry respected
    val emb = Tables.embeddings(spark, sfDir).limit(8)
    val b = ops.Sim.withBuckets(emb, tables = 2, bits = 5)
    assert(b.count() == 16)
    assert(b.select("bucket").collect().forall(_.getString(0).length == 5))
    // embedding near-dups: self-pairing corpus finds its duplicates
    val dup = emb.union(emb.withColumn("vec_id", col("vec_id") + 1000))
    assert(ops.Dedup.embedPairsOf(dup, 0.999).count() >= 8)
    // tfidf: k terms per doc, rank within k
    val kw = ops.Text.tfidfTopOf(docs, 2)
    assert(kw.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
  }

  test("Pipeline lane on ad-hoc frames") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
        (i, ("tok " * (i % 7 + 1).toInt).trim, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    // packing: budget 8 tokens -> multiple sequences per source
    val packed = ops.Pipeline.packSequencesOf(docs, budget = 8L)
    assert(packed.select("source").distinct().count() == 2)
    assert(packed.count() > 2, "tiny budget must split into sequences")
    // split column: total preserved, only the three values
    val split = ops.Pipeline.withSplit(docs)
    assert(split.count() == 40)
    assert(split.select("split").distinct().collect()
      .forall(r => Set("train", "val", "test")(r.getString(0))))
    // incremental dedup: batch of 2 dup + 1 new against a 3-doc corpus
    val fp = (d: DataFrame) => d.withColumn("fp", md5(col("text").cast("binary")))
    val corpus = fp(Seq((1L, "aaa", "s"), (2L, "bbb", "s"), (3L, "ccc", "s"))
      .toDF("doc_id", "text", "source"))
    val batch = fp(Seq((10L, "aaa", "s"), (11L, "bbb", "s"), (12L, "zzz", "s"))
      .toDF("doc_id", "text", "source"))
    val inc = ops.Pipeline.incrementalOf(corpus, batch).collect().head
    assert(inc.getLong(1) == 3 && inc.getLong(2) == 1 && inc.getLong(3) == 1)
    // keep-best: the higher-quality doc of a 2-doc cluster survives
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "canonical_id")
    val quality = Seq((1L, 0.2), (2L, 0.9)).toDF("doc_id", "quality_score")
    val kept = ops.Dedup.keepBestOf(clusters, quality).collect()
    assert(kept.length == 1 && kept.head.getLong(1) == 2L
      && kept.head.getLong(2) == 2L)
    // tie-break: equal quality → min doc_id wins
    val tied = Seq((5L, 1L), (3L, 1L)).toDF("doc_id", "canonical_id")
    val tiedQ = Seq((5L, 0.7), (3L, 0.7)).toDF("doc_id", "quality_score")
    assert(ops.Dedup.keepBestOf(tied, tiedQ).collect().head.getLong(1) == 3L)
    // skew shape: per-cluster argmax must be a partially-merged aggregate
    // (map-side combine), not a Window that funnels a whole cluster into
    // one sorted task — a mega-cluster would serialize there at scale.
    val kbPlan = ops.Dedup.keepBestOf(clusters, quality)
      .queryExecution.executedPlan.toString
    assert(!kbPlan.contains("Window"), "keepBest must not use a window")
    assert(kbPlan.contains("max_by") || kbPlan.contains("HashAggregate"),
      "keepBest must be an aggregate")
    // profile: one row per requested column
    assert(ops.Profile.profileOf(docs.withColumn("v", col("doc_id") * 2),
      Seq("doc_id", "v")).count() == 2)
  }

  test("AsOfJoin on ad-hoc frames") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (2L, 10L, 200L)).toDF("id", "k", "t")
    val r = Seq((10L, 150L, 7L)).toDF("rk", "rt", "pid")
    val got = plans.AsOfJoin(l, r, "k", "t", "id",
        "rk", "rt", "pid", "pid", "last_pid")
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(got == Map(1L -> -1L, 2L -> 7L))
  }

  test("Events2 funnel + retention on an ad-hoc feed") {
    import spark.implicits._
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(
      f"2024-02-$day%02d $h%02d:00:00")
    // u1 completes a→b→c in order; u2 has b BEFORE a (must not count as
    // stage 2); u3 only reaches a
    val ev = Seq(
      (1L, "a", ts(1, 1)), (1L, "b", ts(1, 2)), (1L, "c", ts(1, 3)),
      (2L, "b", ts(1, 1)), (2L, "a", ts(1, 2)),
      (3L, "a", ts(2, 5)))
      .toDF("user_id", "event_type", "ts")
    val f = ops.Events2.funnelOf(ev, Seq("a", "b", "c")).collect().head
    assert((f.getLong(0), f.getLong(1), f.getLong(2)) == ((3L, 1L, 1L)))
    // cohorts: u1,u2 first active Feb 1 (u1 also active Feb 2 and 8 →
    // retained at +1 and +7); u3's cohort is Feb 2
    val ev2 = ev.union(Seq(
      (1L, "a", ts(2, 1)), (1L, "a", ts(8, 1)))
      .toDF("user_id", "event_type", "ts"))
    val r = ops.Events2.retentionOf(ev2).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r == Map("2024-02-01" -> ((2L, 1L, 1L)),
      "2024-02-02" -> ((1L, 0L, 0L))))
  }

  test("Graft round-5 surface: stats, projection, semantic dedup, unigram LM") {
    import spark.implicits._
    // stats.zscoreOutliers: 9 values at 1.00, one at 100.00 -> 1 outlier
    val vals = (Seq.fill(9)(1.00) :+ 100.00).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toDF("id", "g", "v")
    val z = ops.Robust.zscoreOutliers(vals, col("g"), col("v"))
      .collect().head
    assert(z.getLong(1) == 10L && z.getLong(2) == 1L)
    // stats.winsorize: with 10 rows p1=p99 rank clamps only the extremes
    val w = ops.Robust.winsorize(vals, col("g"), col("v"), 1, 99)
      .collect().head
    assert(w.getLong(1) == 10L && w.getLong(3) == 0L && w.getLong(4) == 0L)
    // sim.randomProject keeps one row per vector with ProjDim components
    val emb = Tables.embeddings(spark, sfDir)
    val proj = ops.Embed.randomProject(emb)
    assert(proj.count() == emb.count())
    assert(proj.columns.length == 1 + ops.Embed.ProjDim)
    // sim.semanticDedup at tau > 1 keeps everything
    val sd = ops.Embed.semanticDedup(emb, tau = 1.1)
    assert(sd.filter(!col("kept")).count() == 0)
    // text.unigramLmScores: every doc scored, scores negative
    val docs = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val lm = ops.Text2.unigramLmScores(docs).collect()
    assert(lm.length == 2 && lm.forall(_.getDouble(2) < 0))
    // events.timeToConvert: u1 converts in 3600s, u2 in 7200s, u3 never
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")
    val ev = Seq(
      (1L, "signup", ts(1)), (1L, "purchase", ts(2)),
      (2L, "signup", ts(1)), (2L, "purchase", ts(3)),
      (3L, "signup", ts(1)))
      .toDF("user_id", "event_type", "ts")
    val t = ops.Events2.timeToConvertOf(ev).collect().head
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3),
      t.getLong(4)) == ((2L, 3600L, 3600L, 7200L, 7200L)))
  }

  test("Graft media + heavy-hitter surface on ad-hoc frames") {
    import spark.implicits._
    // media: encode ad-hoc pixels/samples, the codecs decode + features
    val img = ops.Multimodal.MediaRow(7L,
      ops.Ppm.encode(2, 1, Array[Byte](10, 20, 30, 40, 50, 60)))
    val feats = ops.Multimodal.featuresOf(Seq(img).toDS()).collect().head
    assert((feats.w, feats.h, feats.sum_r, feats.sum_g, feats.sum_b)
      == ((2L, 1L, 50L, 70L, 90L)))
    val wav = ops.Multimodal.MediaRow(8L,
      ops.Wav.encode(8000, Array[Short](5, -3, 7), withJunk = true))
    val a = ops.Multimodal.audioStatsOf(Seq(wav).toDS()).collect().head
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4),
      a.getLong(5)) == ((8000L, 3L, 9L, 15L, 7L)))
    assert(ops.Wav.decode(wav.payload).samples.toSeq
      == Seq[Short](5, -3, 7))
    // heavy hitters: relative threshold over an ad-hoc token column
    val toks = (Seq.fill(60)("hot") ++ (0 until 40).map(i => s"t_$i")).toDF("t")
    val hh = ops.HeavyHitters.heavyHitters(toks, permille = 100L).collect()
    assert(hh.map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq("hot" -> 60L))
    // diagnostics: estimate dominates the exact count for every token
    val est = ops.HeavyHitters.estimates(toks)
    assert(est.filter(col("est") < col("cnt")).count() == 0L)
  }
}
