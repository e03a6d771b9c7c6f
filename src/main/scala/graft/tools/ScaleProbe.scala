package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-behavior probe for the dedup pipelines: union the documents
  * table k times with doc_id offsets (every copy is a near-duplicate of
  * the original corpus, the worst case for candidate generation) and
  * time the MinHash, SimHash, and Jaccard pipelines at 1×, 4×, and 10×.
  * Linear growth here is the evidence that the "narrow expansion →
  * bounded-key aggregate → bucket-limited join" shapes hold as data
  * grows; superlinear growth would flag a pair-explosion.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    val cpus = spark.sparkContext.defaultParallelism

    def scaled(k: Int): DataFrame = {
      val base = graft.Tables.documents(spark, sfDir)
      val n = base.count()
      (0 until k).map { i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * n))
      }.reduce(_ union _).repartition(cpus)
    }

    // same pipeline bodies as Dedup.{qDedupMinhash,qDedupSimhash,
    // qDedupJaccard}, parameterized on the input frame
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale-probe] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
    }

    // MinHash band-bucket cap contrast on a BOILERPLATE corpus: every
    // doc_id % 5 == 0 document gets one shared template text, so all
    // its band buckets go hot together and their occupancy grows ×k
    // with replication — uncapped candidate pairs grow ~k² (the b²/2
    // hot-bucket emission: 0.5 M pairs at 1x, 50 M at 10x), while the
    // capped default filters those buckets on the occupancy window and
    // stays ~linear (boilerplate duplication belongs to the exact-dedup
    // stage, which catches identical fingerprints in one groupBy).
    Seq(1, 4, 10).foreach { k =>
      val docs = scaled(k)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          lit("this document is provided as is without warranty of any " +
            "kind either express or implied including fitness for purpose"))
          .otherwise(col("text")))
        .cache()
      docs.count()
      time(s"minhash boiler uncapped ${k}x")(
        graft.ops.Dedup.minhashPairsOf(docs, Long.MaxValue).count())
      time(s"minhash boiler cap64 ${k}x")(
        graft.ops.Dedup.minhashPairsOf(docs).count())
      docs.unpersist()
    }

    Seq(1, 4, 10).foreach { k =>
      val docs = scaled(k).cache()
      docs.count() // materialize outside the timed region
      time(s"minhash ${k}x")(graft.ops.Dedup.minhashPairsOf(docs).count())
      time(s"simhash ${k}x")(graft.ops.Dedup.simhashGroupsOf(docs).count())
      time(s"jaccard ${k}x")(graft.ops.Dedup.jaccardPairsOf(docs, 0.1).count())
      // df-cap contrast: k× exact replication multiplies every shingle's
      // document frequency by k, so the uncapped pipeline's pair emission
      // grows ~k² (the stop-phrase blowup in miniature) while the capped
      // one stays bounded — hot shingles are anti-joined out before any
      // posting list is collected.
      time(s"jaccard cap4 ${k}x")(
        graft.ops.Dedup.jaccardPairsOf(docs, 0.1, dfCap = 4).count())
      // the at-scale playbook's step 1 as an operator: exact Jaccard
      // scored ONLY on the LSH candidates — cost tracks the candidate
      // count (true near-dup mass), not Σdf², so unlike the uncapped
      // inverted index it cannot blow up on boilerplate
      time(s"jaccard verify ${k}x")(
        graft.ops.Dedup.candidateJaccard(
          docs, graft.ops.Dedup.minhashPairsOf(docs), 0.5).count())
      if (k == 10) {
        // resolve strategy parity at the largest probe: driver union-find
        // vs the forced-distributed label-propagation loop (threshold=0)
        // over the same candidate graph — the distributed path must hold
        // its own, since it's the only option at cluster scale.
        val pairs = graft.ops.Dedup.minhashPairsOf(docs).cache()
        pairs.count()
        time(s"resolve drv ${k}x")(
          graft.ops.Dedup.resolveComponents(spark, pairs, Long.MaxValue).count())
        time(s"resolve dist ${k}x")(
          graft.ops.Dedup.resolveComponents(spark, pairs, 0).count())
        // end-to-end decision: clusters × quality → one survivor per
        // cluster; the window shuffles only the resolved-cluster frame
        time(s"keep best ${k}x")(
          graft.ops.Dedup.keepBestOf(
            graft.ops.Dedup.resolveComponents(spark, pairs, Long.MaxValue),
            graft.ops.Text.qualityOf(docs)).count())
        pairs.unpersist()
      }
      docs.unpersist()
    }

    // similarity paths: replicate embeddings k× and score one query
    // vector — brute force is O(n); the LSH probe touches ~n/2^bits
    def scaledEmb(k: Int): DataFrame = {
      val base = graft.Tables.embeddings(spark, sfDir)
      val n = base.count()
      (0 until k).map { i =>
        base.withColumn("vec_id", col("vec_id") + lit(i * n))
      }.reduce(_ union _).repartition(cpus)
    }
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Seq(1, 4, 10).foreach { k =>
      val e = scaledEmb(k).cache()
      e.count()
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))
      time(s"sim brute ${k}x")(
        e.filter(col("vec_id") =!= 0).crossJoin(q)
          .select(col("vec_id"),
            expr("cosine_sim(embedding, q_emb)").as("c"))
          .orderBy(col("c").desc, col("vec_id").asc).limit(10).count())
      val bucketed = graft.ops.Sim.withBuckets(e)
      val qb = broadcast(bucketed.filter(col("vec_id") === 0)
        .select(col("t").as("q_t"), col("bucket").as("q_bucket"),
          col("embedding").as("q_emb")))
      time(s"sim lsh ${k}x")(
        bucketed.filter(col("vec_id") =!= 0)
          .join(qb, col("t") === col("q_t") && col("bucket") === col("q_bucket"))
          .dropDuplicates("vec_id")
          .select(col("vec_id"),
            expr("cosine_sim(embedding, q_emb)").as("c"))
          .orderBy(col("c").desc, col("vec_id").asc).limit(5).count())
      e.unpersist()
    }

    // Batch ANN growth: fixed query set (the base corpus's %100 slice),
    // corpus replicated k×. Both paths must grow LINEARLY in k — brute
    // scans everything for the broadcast query set; IVF scores only the
    // probed lists, so its slope is ~nprobe/n_lists of brute's. (With a
    // real 100 TB corpus the codebook also grows ~√n, shrinking the
    // probed fraction further — here the label codebook is fixed.)
    val nBaseEmb = graft.Tables.embeddings(spark, sfDir).count()
    Seq(1, 4, 10).foreach { k =>
      val e = scaledEmb(k).cache()
      e.count()
      val qPred = s"vec_id % 100 = 0 AND vec_id < $nBaseEmb"
      time(s"batch brute ${k}x")(
        graft.ops.Sim2.batchTopKOf(e, qPred, 3).count())
      time(s"batch ivf ${k}x")(
        graft.ops.Sim2.batchIvfOf(e, qPred, 2, 3).count())
      e.unpersist()
    }

    // Embedding near-dup candidate growth: replicate the corpus k× with a
    // deterministic per-replica perturbation (so copies are *near*, not
    // exact, neighbors — the realistic worst case) and count LSH candidate
    // pairs under the legacy fixed geometry (1 table × 4 bits ≈ the old
    // 16-bucket sign scheme) vs the parameterized default (4 × 8).
    // Sub-quadratic growth of the 4×8 counts as k grows — against the
    // k² blowup of the 16-bucket floor — is the scale evidence.
    def perturbedEmb(k: Int): DataFrame = {
      val base = graft.Tables.embeddings(spark, sfDir)
      val n = base.count()
      (0 until k).map { i =>
        base.withColumn("vec_id", col("vec_id") + lit(i * n))
          .withColumn("embedding", expr(
            s"transform(embedding, (x, p) -> CAST(x + 0.03 * (pmod(vec_id * 31 + $i * 17 + p * 7, 13) - 6) AS FLOAT))"))
      }.reduce(_ union _).repartition(cpus)
    }
    def candCount(e: DataFrame, tables: Int, bits: Int): Long = {
      val v = graft.ops.Sim.withBuckets(e, tables, bits)
        .select(col("vec_id"), col("t"), col("bucket"))
      v.as("a").join(v.as("b"),
          col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .distinct().count()
    }
    Seq(1, 4, 10).foreach { k =>
      val e = perturbedEmb(k).cache()
      e.count()
      time(s"embed cand 1x4b ${k}x")(candCount(e, 1, 4))
      time(s"embed cand 4x8b ${k}x")(candCount(e, 4, 8))
      // the knob the fixed scheme lacked: at the largest replication,
      // 4 more bits per table cut bucket occupancy ~16× — this is the
      // move a 100 TB corpus makes to keep the self-join bounded
      if (k == 10) time(s"embed cand 4x12b ${k}x")(candCount(e, 4, 12))
      e.unpersist()
    }
    // Semantic dedup growth: the SemDeDup design point is cluster count
    // ~ corpus size with bounded occupancy, so the replication gives
    // each copy its OWN cluster ids (label + 10·i) — per-cluster work
    // constant, total work linear in k. (Same-label replication would
    // grow occupancy ×k and the within-cluster quadratic ×k² — that is
    // the cluster-granularity knob SCALE.md documents, not the design.)
    // `stride` is the vec_id offset between replicas: the embeddings'
    // own count for the standalone probes, the DOCUMENTS count when
    // pairing with a replicated corpus (doc replica i spans
    // [i·n_docs, …), so its embeddings must too — with any other
    // stride the curate semi-joins would silently discard replicas).
    def scaledEmbClusters(k: Int, stride: Long): DataFrame = {
      val base = graft.Tables.embeddings(spark, sfDir)
      (0 until k).map { i =>
        base.withColumn("vec_id", col("vec_id") + lit(i * stride))
          .withColumn("label", col("label") + lit(i * 10))
      }.reduce(_ union _).repartition(cpus)
    }
    val nBaseEmb2 = graft.Tables.embeddings(spark, sfDir).count()
    Seq(1, 4, 10).foreach { k =>
      val e = scaledEmbClusters(k, nBaseEmb2).cache()
      e.count()
      time(s"semantic dedup ${k}x")(
        graft.ops.Embed.semanticDedup(e, graft.ops.Embed.SemanticTau)
          .filter(!col("kept")).count())
      time(s"random proj ${k}x")(
        graft.ops.Embed.randomProject(e).count())
      e.unpersist()
    }

    // Fuzzy-join candidate growth under the padding-gram skew. Probe
    // corpus = "shared heads + diverse tails": replica (i, j) name is
    // the first word of a part name (tiny vocabulary — every head gram
    // goes hot as k grows, exactly the '##x' skew the df-cap targets)
    // plus an md5-hex tail (diverse — cold grams). One planted 1-edit
    // near-dup per (head, replica) gives a nonzero answer whose
    // equality across capped/uncapped is the losslessness check, timed
    // live at every k. Expected: uncapped candidates grow ~k² (head
    // buckets), capped stays near-linear (hex-tail collisions only).
    def fuzzyNames(k: Int): DataFrame = {
      val heads = graft.Tables.part(spark, sfDir)
        .select(split(col("p_name"), " ").getItem(0).as("w")).distinct()
      val n = (0 until k).map { i =>
        heads.select(col("w"), explode(sequence(lit(0), lit(99))).as("j"))
          .select(concat(col("w"), lit(" "),
            substring(md5(concat(col("w"), lit(s"-$i-"),
              col("j").cast("string"))), 1, 8))
            .as("name"))
      }.reduce(_ union _)
      val planted = (0 until k).map { i =>
        heads.select(concat(col("w"), lit(" "),
          substring(md5(concat(col("w"), lit(s"-$i-0"))), 1, 7), lit("z"))
          .as("name"))
      }.reduce(_ union _)
      n.union(planted).repartition(cpus)
    }
    Seq(1, 4, 10).foreach { k =>
      val nm = fuzzyNames(k).cache()
      nm.count()
      // candidate counts are what the cap bounds (the Levenshtein work)
      time(s"fuzzy cand uncapped ${k}x")(
        graft.ops.Fuzzy.fuzzyCandidates(nm, 2).count())
      time(s"fuzzy cand cap240 ${k}x")(
        graft.ops.Fuzzy.fuzzyCandidates(nm, 2, dfCap = 240).count())
      // losslessness live: the verified pairs must be identical
      val exact = graft.ops.Fuzzy.fuzzySelfJoin(nm, 2).count()
      val capped = graft.ops.Fuzzy.fuzzySelfJoin(nm, 2, dfCap = 240).count()
      require(capped == exact,
        s"df-cap lost pairs at ${k}x: $capped != $exact")
      nm.unpersist()
    }

    // ExactSubstr span dedup growth: exact k× replication multiplies
    // every 8-gram's corpus frequency by k — the worst case for any
    // formulation that JOINS positions to positions on the gram (k²
    // pair fan-out). The shipped shape is a LEFT SEMI membership test,
    // so duplicated-position rows grow exactly ×k and the whole
    // pipeline must stay ~linear; the span count at k>1 jumps once
    // (every document becomes fully duplicated against its replicas)
    // and then scales with rows, not pairs. BM25 and the weighted
    // sampler ride along: both are scan-plus-small-join shapes whose
    // slope should track the input count.
    Seq(1, 4, 10).foreach { k =>
      val docs = scaled(k).cache()
      docs.count()
      time(s"substr spans ${k}x")(
        graft.ops.Search.substrSpansOf(docs, 8).count())
      time(s"bm25 top10 ${k}x")(
        graft.ops.Search.bm25Of(docs,
          Seq("spark", "filter", "stream"), 10).count())
      time(s"weighted sample ${k}x")(
        graft.ops.Search.weightedSample(
          docs.withColumn("source",
            concat(lit("s"), (col("doc_id") % 8).cast("string")))
            .withColumn("n_chars", length(col("text")).cast("long")),
          "source", "doc_id", "n_chars", 5).count())
      docs.unpersist()
    }

    // PageRank join-strategy gap: broadcast ranks (edges never shuffle
    // for the join) vs the forced co-partitioned shuffle-hash fallback
    // (the shape once the node table outgrows a broadcast). Identical
    // results required; the gap is the price of outgrowing a broadcast.
    {
      def pr(bcast: Boolean): Long =
        graft.ops.Graph.pagerank(
            graft.ops.Graph.bipartiteEdges(spark, sfDir), 3,
            broadcastRanks = bcast)
          .agg(count(lit(1)), sum(round(col("r") * col("n_nodes")
            .cast("double"), 6))).collect().length.toLong
      time("pagerank bcast")(pr(true))
      time("pagerank coparted")(pr(false))
    }

    // Text/curation lanes: narrow passes + bounded-key aggregates —
    // must be linear. Curate pairs the k× corpus with the k×-cluster
    // embeddings frame (doc_id and vec_id offsets aligned).
    val nBaseDocs = graft.Tables.documents(spark, sfDir).count()
    Seq(1, 4, 10).foreach { k =>
      val d = scaled(k).cache()
      d.count()
      val e = scaledEmbClusters(k, nBaseDocs).cache()
      e.count()
      time(s"unigram lm ${k}x")(
        graft.ops.Text2.unigramLmScores(d).count())
      time(s"curate ${k}x")(graft.ops.Curate.curate(d, e).count())
      d.unpersist(); e.unpersist()
    }

    // Heavy hitters: exact replication multiplies every count AND the
    // relative threshold by k, so the ANSWER is k-invariant — the probe
    // requires it — while runtime must stay linear (sketch build is one
    // bounded aggregation; pass 2 shuffles only estimate-cleared tokens,
    // never the whole vocabulary). The naive exact groupBy is timed
    // alongside as the vocabulary-shuffle contrast.
    var hhBase = -1L
    Seq(1, 4, 10).foreach { k =>
      val toks = (0 until k)
        .map(_ => graft.ops.HeavyHitters.corpusTokens(spark, sfDir))
        .reduce(_ union _).repartition(cpus).cache()
      toks.count()
      var rows = -1L
      time(s"heavy hitters ${k}x") {
        rows = graft.ops.HeavyHitters.heavyHitters(toks, 5L).count(); rows
      }
      if (hhBase < 0) hhBase = rows
      require(rows == hhBase,
        s"relative-threshold answer must be k-invariant: $rows != $hhBase")
      time(s"naive exact ${k}x")(
        toks.groupBy(col("t")).count().count())
      toks.unpersist()
    }
    // Streaming state lane: replicate the event feed k× with DISTINCT
    // users per replica (user-stride offsets), so active-user state and
    // the per-user session count both grow ×k — the realistic growth
    // axis for the ListState sessionizer (more users, not longer
    // histories). Runtime per run-to-completion must stay ~linear and
    // the session count must be exactly k× the base: superlinear time
    // would flag per-key cost leaking into other keys; a session-count
    // drift would flag state bleeding across replicas. Staging is
    // outside the timed region; the timed region is the full
    // stream-to-completion including the sentinel flush.
    locally {
      val baseEv = graft.Tables.events(spark, sfDir)
      val nE = baseEv.count()
      val userStride = 10000000L
      var sessBase = -1L
      Seq(1, 4, 10).foreach { k =>
        val ev = (0 until k).map(i => baseEv
            .withColumn("user_id", col("user_id") + lit(i * userStride))
            .withColumn("event_id", col("event_id") + lit(i * nE)))
          .reduce(_ union _)
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        val stage = java.nio.file.Files
          .createTempDirectory(s"graft-probe-sess-$k").toString
        ev.coalesce(1).write.mode("overwrite").parquet(stage)
        graft.streaming.Streaming.sentinelRow(spark, maxTs)
          .write.mode("append").parquet(stage)
        var rows = -1L
        time(s"sessions_v2 ${k}x") {
          rows = graft.streaming.StateV2
            .sessionRecordsOver(spark, stage)
            .filter(col("user_id") >= 0).count()
          rows
        }
        if (sessBase < 0) sessBase = rows
        require(rows == sessBase * k,
          s"session count must scale exactly ×k: $rows != $sessBase×$k")
      }
    }
    spark.stop()
  }
}
