package graft

import org.apache.spark.sql.functions._

import graft.ops.Search

/** ExactSubstr span dedup, BM25 ranking, and Efraimidis–Spirakis weighted
  * sampling: each checked against a brute-force Scala computation of the
  * same definition on data where the answer is enumerable by hand.
  */
class SearchSpec extends SparkTestBase {

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("substrSpansOf finds cross-doc duplicated runs and merges overlaps") {
    // docs 1 and 2 share tokens a1..a10 (10 tokens => gram starts 1..3
    // with L=8, one merged span of 10 tokens); doc 3 is unique.
    val shared = (1 to 10).map(i => s"a$i").mkString(" ")
    val d = docsOf(
      1L -> s"$shared u1 u2 u3 u4",
      2L -> s"v1 v2 $shared",
      3L -> (1 to 20).map(i => s"w$i").mkString(" "))
    val got = Search.substrSpansOf(d, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 1L, 10L), (2L, 1L, 10L)))
  }

  test("substrSpansOf counts within-doc repetition and splits far spans") {
    // one doc: 8-token run repeated at positions 1 and 30 (gap > L) =>
    // two spans of 8 tokens each.
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val mid = (1 to 21).map(i => s"m$i").mkString(" ")
    val d = docsOf(7L -> s"$run $mid $run")
    val got = Search.substrSpansOf(d, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((7L, 2L, 16L)))
  }

  test("substrSpansOf emits nothing when no gram repeats") {
    val d = docsOf(
      1L -> (1 to 30).map(i => s"x$i").mkString(" "),
      2L -> (1 to 30).map(i => s"y$i").mkString(" "))
    assert(Search.substrSpansOf(d, 8).count() == 0L)
  }

  test("substr grams build in-array: token stream never shuffles pre-join") {
    // r18 shape: grams assemble INSIDE each document's token array
    // (transform + posexplode) on both the count side and the probe
    // side — no exploded-token window, so the only doc_id exchange the
    // planner inserts is the islands-merge window AFTER the semi join
    // (the old lead-window shape shuffled and double-sorted the entire
    // token stream by (doc_id, pos) before a single gram existed). The
    // spread's own doc_id exchange moves raw documents, not tokens, and
    // is REPARTITION_BY_NUM, so it is not counted.
    val df = Search.substrSpansOf(Tables.documentsSpread(spark, sfDir), 8)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("LeftSemi"), "df>=2 membership must be a semi join")
    val docIdExchanges =
      "Exchange hashpartitioning\\(doc_id#\\d+L, \\d+\\), ENSURE_REQUIREMENTS"
        .r.findAllIn(plan).size
    assert(docIdExchanges == 1,
      s"expected the islands window's doc_id exchange only, " +
        s"got $docIdExchanges:\n$plan")
  }

  test("bm25Of matches a brute-force score on an enumerable corpus") {
    val d = docsOf(
      1L -> "spark spark stream alpha beta",
      2L -> "spark gamma delta epsilon zeta eta theta iota",
      3L -> "stream filter filter kappa",
      4L -> "lambda mu nu xi")
    val terms = Seq("spark", "filter", "stream")
    val got = Search.bm25Of(d, terms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList

    // brute force over the same definition
    val toks = Map(1L -> Seq("spark", "spark", "stream", "alpha", "beta"),
      2L -> Seq("spark", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota"),
      3L -> Seq("stream", "filter", "filter", "kappa"),
      4L -> Seq("lambda", "mu", "nu", "xi"))
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val dfm = terms.map(t => t -> toks.values.count(_.contains(t))).toMap
    def score(doc: Long): Double = {
      val dl = toks(doc).size.toDouble
      terms.map { t =>
        val tf = toks(doc).count(_ == t).toDouble
        if (tf == 0 || dfm(t) == 0) 0.0
        else math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
    }
    val want = toks.keys.toList.map(d0 => (d0, score(d0)))
      .filter(_._2 > 0)
      .map { case (d0, s) =>
        (d0, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (d0, s) => (-s, d0) }
    assert(got.map(r => (r._1, r._2)) == want)
    // n_terms is the count of matched query terms per doc
    assert(got.find(_._1 == 1L).get._3 == 2L)
    assert(got.find(_._1 == 3L).get._3 == 2L)
  }

  test("decontaminateOf flags exactly the train docs sharing an eval gram") {
    // doc 10 (eval: % 10 == 0) leaks its first 8 tokens into train doc 3;
    // train doc 4 shares nothing; train doc 5 repeats an 8-gram of doc 3
    // that is NOT in the eval split (must not count).
    val leaked = (1 to 8).map(i => s"e$i").mkString(" ")
    val trainOnly = (1 to 8).map(i => s"t$i").mkString(" ")
    val d = docsOf(
      10L -> s"$leaked x1 x2 x3",
      3L -> s"pre1 $leaked $trainOnly",
      4L -> (1 to 15).map(i => s"u$i").mkString(" "),
      5L -> s"$trainOnly z1 z2")
    val got = Search.decontaminateOf(d, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // doc 3 has 10 gram positions (17 tokens), exactly 1 leaked gram at
    // one position -> frac 0.1
    assert(got == List((3L, 1L, 0.1)))
  }

  test("quality budget keeps the best docs per source within half the tokens") {
    val got = graft.ops.Search.qQualityBudget(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // brute force: replay the selection from the scored frame
    val scored = graft.ops.Text.qualityOf(
      Tables.documentsSpread(spark, sfDir))
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "source",
        "CAST(size(split(text, ' ', -1)) AS LONG) AS n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = base.groupBy(_._2).toList.map { case (src, rows) =>
      val budget = rows.map(_._3).sum / 2
      val ordered = rows.sortBy { case (id, _, _) => (-scored(id), id) }
      val kept = ordered
        .scanLeft((0L, 0L, 0.0)) { case ((run, _, _), (id, _, nt)) =>
          (run + nt, nt, scored(id))
        }.drop(1).takeWhile(_._1 <= budget)
      (src, kept.size.toLong, kept.map(_._2).sum,
        BigDecimal(kept.map(_._3).min)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.toList == want)
  }

  test("weighted sample reproduces the md5 E-S keys exactly, top-5/source") {
    val got = Search.qSampleWeighted(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    // brute-force: same md5 draw and key in plain JVM
    def draw(docId: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (hex(0).toLong * 65536 + hex(1).toLong * 256 + hex(2).toLong) % 1000
    }
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).toList.flatMap { case (src, rows) =>
      rows.map { case (_, id, w) =>
        // rank by the key ROUNDED to the emitted 6 decimals (id as
        // tiebreak) — ordering by the raw double would let an ln() ULP
        // difference at the rank-k boundary flip the selection between
        // engines, so the operator pins the rounded order
        (id, BigDecimal(math.log((draw(id) + 1) / 1002.0) / w)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, k) => (-k, id) }
        .take(5).zipWithIndex
        .map { case ((id, _), i) => (src, i.toLong + 1, id) }
    }.sortBy(r => (r._1, r._2))
    assert(got.toList == want)
  }

  test("hybrid RRF fuses lex-only, sem-only and both-lane docs exactly") {
    import spark.implicits._
    // lex lane (terms = "t", equal doc length so bm25 is monotone in tf):
    //   doc1 tf=4 -> rank 1, doc2 tf=2 -> rank 2, doc3 tf=1 -> rank 3.
    // sem lane (query vec 0 = e_x): vec3 cos 1.0 -> rank 1,
    //   vec4 cos 0.8 -> rank 2, vec2 cos 0.6 -> rank 3; vec1 absent.
    // So doc1 is lex-only, doc4 sem-only, docs 2 and 3 are in both.
    val docs = Seq(
      1L -> "t t t t", 2L -> "t t a b", 3L -> "t a b c").toDF("doc_id", "text")
    val emb = Seq(
      0L -> Array(1f, 0f, 0f), 2L -> Array(0.6f, 0.8f, 0f),
      3L -> Array(1f, 0f, 0f), 4L -> Array(0.8f, 0.6f, 0f))
      .toDF("vec_id", "embedding")
    val got = Search.hybridSearchOf(docs, emb, Seq("t"), laneK = 20, k = 10)
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toList
    // rrf = 1/(60+rank) per lane present, rounded to 6; absent rank -> 0
    val want = List(
      (3L, 0.032266, 3L, 1L), // 1/63 + 1/61
      (2L, 0.032002, 2L, 3L), // 1/62 + 1/63
      (1L, 0.016393, 1L, 0L), // 1/61
      (4L, 0.016129, 0L, 2L)) // 1/62
    assert(got == want)
  }

  test("hybrid queryId parameterizes the reserved doc (doc 0 can be corpus)") {
    import spark.implicits._
    // r14 ADVICE: hardcoding the query id at 0 silently dropped a
    // LEGITIMATE doc 0 from the lexical lane and the BM25 stats. Same
    // fixture as the RRF-exactness test with the query moved to id 5:
    // doc 0 is now an ordinary corpus document and must rank lexically.
    val docs = Seq(
      0L -> "t t t t", 2L -> "t t a b", 3L -> "t a b c",
      5L -> "query doc itself").toDF("doc_id", "text")
    val emb = Seq(
      5L -> Array(1f, 0f, 0f), 2L -> Array(0.6f, 0.8f, 0f),
      3L -> Array(1f, 0f, 0f), 4L -> Array(0.8f, 0.6f, 0f),
      0L -> Array(0f, 1f, 0f))
      .toDF("vec_id", "embedding")
    val got = Search
      .hybridSearchOf(docs, emb, Seq("t"), laneK = 20, k = 10, queryId = 5L)
      .collect().map(r =>
        (r.getLong(0), r.getLong(2), r.getLong(3))).toList
    // lex lane: doc0 tf=4 rank 1, doc2 rank 2, doc3 rank 3 — doc 5 (the
    // query doc, which contains no "t") plays no lexical part, and doc 0
    // IS ranked; sem lane: vec3 cos 1.0 rank 1, vec4 0.8 rank 2, vec2
    // 0.6 rank 3, vec0 cos 0 rank 4 — vec 5 (the query) excluded
    val byDoc = got.map { case (d, lx, sm) => d -> (lx, sm) }.toMap
    assert(byDoc(0L) == (1L, 4L), s"doc 0 must rank in BOTH lanes: $got")
    assert(!byDoc.contains(5L), s"query doc 5 must be excluded: $got")
    assert(byDoc(3L) == (3L, 1L) && byDoc(2L) == (2L, 3L) &&
      byDoc(4L) == (0L, 2L), s"remaining ranks shift intact: $got")
  }

  test("hybrid lanes are top-k bounded before fusion, never a global sort") {
    val df = graft.ops.Search.qHybridSearch(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // each lane must cut to laneK via TakeOrderedAndProject (per-partition
    // heap) BEFORE the rank window / fuse join touches anything
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"both lanes must be TakeOrderedAndProject-bounded:\n$plan")
  }

  test("IVF-hybrid dense lane reads the list-partitioned layout") {
    val df = graft.ops.Search.qHybridSearchIvf(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the swap claim made real: the dense lane's scan is the AT-REST IVF
    // layout (IvfPruneSpec pins its file pruning), not the raw
    // embeddings table; lanes stay TakeOrderedAndProject-bounded
    assert(plan.contains("graft_ivf_lists_"),
      s"dense lane must scan the staged IVF layout:\n$plan")
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"both lanes must be TakeOrderedAndProject-bounded:\n$plan")
    // rank-space fusion: the IVF lane's ranks feed the same RRF — the
    // top-1 doc must agree with the brute-lane composite on this corpus
    // only if their lane rankings agree; assert instead on the contract
    // that fused output is exactly k rows with 1-based or 0 ranks
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(3) >= 0))
  }
}
