package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** The user-facing API of the engine — what a user of the reference
  * framework calls instead of writing mapper/reducer executables. Each
  * method is a thin, documented delegate to the frame-parameterized
  * operator implementations (see the `ops` package for the plan-shape
  * discussion and `OPERATORS.md` for the full catalogue; every operator
  * also runs as a named, oracle-checked query in [[SparkEntry]]).
  *
  * All operators take and return DataFrames, so they compose with the
  * whole `org.apache.spark.sql` surface; none of them collect row-scale
  * data to the driver.
  */
object Graft {

  /** MapReduce-parity kernels (the reference's own workloads). */
  object mr {
    /** Hadoop-Streaming-style tokenized word count (`tr` semantics,
      * empty tokens kept) over a one-string-column frame.
      */
    def wordCount(lines: DataFrame): DataFrame =
      ops.Core.wordCountTrLines(lines)

    /** Stream a Dataset through an external executable, one process per
      * partition (the reference's mapper/reducer contract).
      */
    def pipe(input: Dataset[String], command: String): Dataset[String] =
      ops.Core.pipeLines(input, command)

    /** Same, with the command as an explicit argv vector (parameterized
      * mappers à la the reference's grep: query arrives via argv).
      */
    def pipeArgv(input: Dataset[String], argv: Seq[String]): Dataset[String] =
      ops.Core.pipeArgv(input, argv)

    /** Reference sink parity: key\tvalue lines, hash-partitioned and
      * sorted per partition, overwrite semantics. `md5Placement = true`
      * additionally reproduces the reference's exact key→part-file
      * assignment (int(md5(key),16) % R).
      */
    def writeKvText(df: DataFrame, keyCol: String, valCol: String,
      outDir: String, numPartitions: Int, md5Placement: Boolean = false): Unit =
      sources.Sources.writeKvText(df, keyCol, valCol, outDir, numPartitions,
        md5Placement)
  }

  /** Deduplication toolbox over any (doc_id LONG, text STRING) frame. */
  object dedup {
    /** MinHash + banded-LSH candidate pairs (16 perms, 4×4 bands).
      * Band buckets hotter than `bucketCap` are dropped before the
      * pair join (boilerplate guard — exact dedup owns identical
      * texts); pass Long.MaxValue for the uncapped control.
      */
    def minhashCandidates(docs: DataFrame,
      bucketCap: Long = ops.Dedup.MinhashBandCap): DataFrame =
      ops.Dedup.minhashPairsOf(docs, bucketCap)

    /** Exact n-gram Jaccard over co-shingle pairs with J ≥ minJ.
      * `dfCap` drops shingles hotter than the cap before pair emission
      * (the stop-phrase guard — at corpus scale, always set one).
      */
    def jaccardPairs(docs: DataFrame, minJ: Double,
      dfCap: Long = Long.MaxValue): DataFrame =
      ops.Dedup.jaccardPairsOf(docs, minJ, dfCap)

    /** Exact Jaccard scored ONLY on given candidate pairs (the scale
      * path: candidates → verify → resolve).
      */
    def verifyCandidates(docs: DataFrame, cand: DataFrame,
      minJ: Double): DataFrame =
      ops.Dedup.candidateJaccard(docs, cand, minJ)

    /** Keep the highest-quality doc per resolved near-dup cluster
      * (ties → min doc_id) — the pipeline's final keep/drop decision.
      */
    def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame =
      ops.Dedup.keepBestOf(clusters, quality)

    /** 16-bit SimHash duplicate groups (signature → count > 1). */
    def simhashGroups(docs: DataFrame): DataFrame =
      ops.Dedup.simhashGroupsOf(docs)

    /** Connected components over candidate pairs (doc_a, doc_b):
      * canonical id = component minimum. Size-adaptive strategy.
      */
    def resolveComponents(spark: SparkSession, pairs: DataFrame): DataFrame =
      ops.Dedup.resolveComponents(spark, pairs,
        ops.Dedup.ResolveDriverThreshold)

    /** Embedding-cosine near-dup pairs ≥ minCos via multi-table
      * hyperplane LSH (geometry tunable, see [[ops.HyperplaneLsh]]).
      */
    def embedNearDups(emb: DataFrame, minCos: Double,
      tables: Int = ops.HyperplaneLsh.DefaultTables,
      bits: Int = ops.HyperplaneLsh.DefaultBits,
      dim: Int = ops.HyperplaneLsh.DefaultDim): DataFrame =
      ops.Dedup.embedPairsOf(emb, minCos, tables, bits, dim)
  }

  /** Similarity search primitives over ArrayType(FloatType) columns. */
  object sim {
    /** Codegen'd cosine similarity between two float-array columns —
      * registers the native expression on the session if needed.
      */
    def cosine(spark: SparkSession, a: Column, b: Column): Column = {
      functions.GraftFunctions.ensureRegistered(spark)
      org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
    }

    /** Multi-table random-hyperplane LSH assignment for an `embedding`
      * column: explodes each row into `tables` rows carrying (t, bucket)
      * — the partition / prune key for ANN probes. Raise `bits` as the
      * corpus grows (occupancy ~n/2^bits per table), raise `tables` to
      * buy recall back.
      */
    def lshBuckets(emb: DataFrame,
      tables: Int = ops.HyperplaneLsh.DefaultTables,
      bits: Int = ops.HyperplaneLsh.DefaultBits,
      dim: Int = ops.HyperplaneLsh.DefaultDim): DataFrame =
      ops.Sim.withBuckets(emb, tables, bits, dim)

    /** Batch ANN, brute force: rows of `emb` matching `queryPred` form
      * the (broadcast) query set; per-query cosine top-k arrives via the
      * bounded-state Aggregator (shuffle O(queries·k)).
      */
    def batchTopK(emb: DataFrame, queryPred: String, k: Int = 3): DataFrame =
      ops.Sim2.batchTopKOf(emb, queryPred, k)

    /** Batch ANN, IVF: corpus and nprobe-expanded queries co-partitioned
      * on the inverted-list id — the no-broadcast shape for query sets
      * too large to broadcast (`emb` needs a `label` column for the
      * deterministic codebook).
      */
    def batchIvf(emb: DataFrame, queryPred: String,
      nprobe: Int = 2, k: Int = 3): DataFrame =
      ops.Sim2.batchIvfOf(emb, queryPred, nprobe, k)

    /** [[batchIvf]] with the list join salted over `salt` shards — the
      * hot-list (Zipfian cluster) configuration; identical results.
      */
    def batchIvfSalted(emb: DataFrame, queryPred: String,
      nprobe: Int = 2, k: Int = 3, salt: Int = 8): DataFrame =
      ops.Sim2.batchIvfSaltedOf(emb, queryPred, nprobe, k, salt)

    /** Int8 scalar-quantization fidelity report per vector. */
    def quantizeFidelity(emb: DataFrame): DataFrame =
      ops.Sim2.quantizeOf(emb)

    /** Johnson–Lindenstrauss Rademacher projection of the embedding
      * column to [[ops.Embed.ProjDim]] dims — a narrow codegen'd
      * pre-pass that makes downstream LSH/clustering cheaper per
      * vector.
      */
    def randomProject(emb: DataFrame): DataFrame =
      ops.Embed.randomProject(emb)

    /** SemDeDup-style cluster-scoped semantic dedup: per-vector keep
      * flag, dropping vectors with a lower-id cluster-mate above
      * cosine `tau` (frame needs vec_id, label, embedding).
      */
    def semanticDedup(emb: DataFrame,
      tau: Double = ops.Embed.SemanticTau): DataFrame =
      ops.Embed.semanticDedup(emb, tau)

    /** k deterministic different-label negatives per anchor from a
      * hash-thinned shared pool — reproducible contrastive-training
      * sampling.
      */
    def negativeSample(emb: DataFrame, anchorPred: String,
      k: Int = 5): DataFrame =
      ops.Embed.negativeSample(emb, anchorPred, k)
  }

  /** Text-analysis operators over any (doc_id LONG, text STRING, ...)
    * frame — the pre-training filter/feature stages.
    */
  object text {
    /** C4/Gopher-style quality scores + keep flag (needs n_chars). */
    def quality(docs: DataFrame): DataFrame = ops.Text.qualityOf(docs)

    /** Stopword-scored language ID. */
    def langId(docs: DataFrame): DataFrame = ops.Text.langIdOf(docs)

    /** Whitespace / regex / chars-per-4 token counts. */
    def tokenCounts(docs: DataFrame): DataFrame = ops.Text.tokenCountOf(docs)

    /** Normalized-content md5 fingerprint (exact-dedup key). */
    def fingerprint(docs: DataFrame): DataFrame = ops.Text.fingerprintOf(docs)

    /** 32-token / stride-24 chunks with per-chunk digests. */
    def chunks(docs: DataFrame): DataFrame = ops.Text.chunksOf(docs)

    /** Distinct-token ratio + top-bigram fraction repetition filters. */
    def repetition(docs: DataFrame): DataFrame = ops.Text.repetitionOf(docs)

    /** TF-IDF keyword extraction: top-k terms per doc by tf·ln(N/df).
      *
      * Building it runs no Spark job and pins nothing; the plan is one
      * tokenize pass whose per-row term counts (`term_counts`, which
      * the call registers on `docs`' session) are shuffled once, by
      * term, however `docs` is split. `docs` is read by two branches of
      * that plan (the term counts and the document count N), so it must
      * be deterministic: a frame that differs between evaluations (a
      * sample, `rand()`, a source read while it changes) gives
      * inconsistent tf, df and N.
      */
    def tfidfTop(docs: DataFrame, k: Int = 3): DataFrame =
      ops.Text.tfidfTopOf(docs, k)

    /** PMI collocations: top-k adjacent token pairs by pointwise mutual
      * information (the BPE-style merge-rule signal).
      *
      * Building it runs Spark jobs: eager `localCheckpoint`s pin
      * the unigram and bigram count tables on the executors when this
      * method is called, not when the returned frame runs. The pinned
      * snapshots live in executor block storage with their lineage
      * cut, so losing an executor that holds a block fails the query
      * instead of recomputing it.
      */
    def pmiBigrams(docs: DataFrame, minCount: Int = 3, k: Int = 15): DataFrame =
      ops.Text2.pmiBigramsOf(docs, minCount, k)

    /** BPE merge-loop training: `k` iterations of count-pairs → pick
      * the most frequent (deterministic ties) → greedy leftmost
      * non-overlapping merge; returns the learned merge table
      * (iter, pair_a, pair_b, pair_count).
      */
    def bpeMerges(docs: DataFrame, k: Int = ops.Bpe.BpeIterations): DataFrame =
      ops.Bpe.bpeMergesOf(docs, k)

    /** Apply the learned BPE merges corpus-wide and report per-source
      * token compression (docs, tokens before/after, ratio). Trains
      * then applies on the same frame; production ships the merge
      * table — use [[bpeApplyTable]] with a pre-trained table there.
      */
    def bpeApply(docs: DataFrame, k: Int = ops.Bpe.BpeIterations): DataFrame =
      ops.Bpe.bpeApplyOf(docs, k)

    /** Apply a SHIPPED merge table ((pair_a, pair_b) in iteration
      * order) — the corpus-scale half of tokenizer training; no
      * training loop runs here.
      */
    def bpeApplyTable(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
      ops.Bpe.bpeApply(docs, merges)

    /** Corpus-trained unigram-LM mean log-prob per document — the
      * model-free fluency/quality score.
      *
      * Building it runs Spark jobs: an eager `localCheckpoint` pins
      * the vocabulary count table on the executors when this method is
      * called, not when the returned frame runs. The pinned snapshot
      * lives in executor block storage with its lineage cut, so losing
      * an executor that holds a block fails the query instead of
      * recomputing it.
      */
    def unigramLmScores(docs: DataFrame): DataFrame =
      ops.Text2.unigramLmScores(docs)

    /** Exact tokens at ≥ permille/1000 of all positions via the
      * count-min two-pass (sketch prefilter, exact verify) — bounded
      * memory at any vocabulary size; `tokens` is one STRING column `t`.
      */
    def heavyHitters(tokens: DataFrame, permille: Long): DataFrame =
      ops.HeavyHitters.heavyHitters(tokens, permille)

    /** Per-token CMS estimate vs exact count (est ≥ cnt always) — the
      * collision-inflation diagnostic that sizes the verify shuffle.
      */
    def heavyHitterEstimates(tokens: DataFrame): DataFrame =
      ops.HeavyHitters.estimates(tokens)

    /** Fuzzy self-join: all distinct values of `name` within
      * Levenshtein `maxDist`, via gram blocking (lossless — short
      * strings below the gram guarantee pair via a broadcast rescue
      * path) — record linkage without the cross join.
      */
    def fuzzySelfJoin(names: DataFrame, maxDist: Int = 2): DataFrame =
      ops.Fuzzy.fuzzySelfJoin(names, maxDist)

    /** ExactSubstr dedup (Lee et al. 2022): per document, the merged
      * spans of ≥ `l` consecutive tokens whose l-gram occurs ≥ 2 times
      * in the corpus — span count + duplicated-token coverage.
      */
    def substrSpans(docs: DataFrame, l: Int = 8): DataFrame =
      ops.Search.substrSpansOf(docs, l)

    /** BM25 (Lucene "+1" IDF) top-k retrieval for a fixed term set. */
    def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame =
      ops.Search.bm25Of(docs, terms, k)

    /** Hybrid retrieval: BM25 lane + dense cosine lane fused by
      * reciprocal-rank fusion, each lane top-`laneK`-bounded before the
      * rank-space fuse. `queryId` names the query row: the vector with
      * `vec_id == queryId` is the probe, and the document with
      * `doc_id == queryId` is EXCLUDED from both lanes and from the
      * BM25 corpus stats (N, avgdl) — doc_id ≡ vec_id is the corpus
      * contract. Default 0 matches the generator's convention; pass the
      * real id when the corpus legitimately contains a doc 0 that is
      * not the query document.
      */
    def hybridSearch(docs: DataFrame, emb: DataFrame, terms: Seq[String],
        laneK: Int = 20, k: Int = 10, queryId: Long = 0L): DataFrame =
      ops.Search.hybridSearchOf(docs, emb, terms, laneK, k, queryId)

    /** Cross-corpus n-gram decontamination: training docs sharing any
      * `l`-token gram with the held-out split (doc_id % 10 == 0 here),
      * with leaked-gram counts and position coverage.
      */
    def decontaminate(docs: DataFrame, l: Int = 8): DataFrame =
      ops.Search.decontaminateOf(docs, l)

    /** Efraimidis–Spirakis weighted sampling without replacement: per
      * `group`, the `k` rows with the largest u^(1/weight), u drawn
      * deterministically from md5(`id`) — reproducible across runs,
      * engines, and partitionings.
      */
    def weightedSample(df: DataFrame, group: String, id: String,
      weight: String, k: Int): DataFrame =
      ops.Search.weightedSample(df, group, id, weight, k)
  }

  /** Event-time operators. */
  object events {
    /** As-of join through the custom Catalyst plan node: each left row
      * picks up the most recent right `payload` at-or-before its time,
      * per key — lowered to one shuffle + running window by
      * [[plans.RewriteAsOfJoin]].
      */
    def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, leftTie: String, rightKey: String,
      rightTime: String, rightTie: String, payload: String,
      outCol: String): DataFrame =
      plans.AsOfJoin(left, right, key, leftTime, leftTie, rightKey,
        rightTime, rightTie, payload, outCol)

    /** Ordered 3-stage funnel: per-user stage timestamps must be
      * non-decreasing; stage counts + conversion rates.
      */
    def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
      ops.Events2.funnelOf(events, stages)

    /** Day-cohort retention (+1/+7 days) over (user_id, ts). */
    def retention(events: DataFrame): DataFrame =
      ops.Events2.retentionOf(events)

    /** Signup→purchase latency distribution with exact rank-based
      * median/p90 (no interpolation, no row-scale sort).
      */
    def timeToConvert(events: DataFrame): DataFrame =
      ops.Events2.timeToConvertOf(events)
  }

  /** Training-pipeline composites: packing, splits, incremental dedup,
    * upsert, bloom-pre-filtered joins (`ops.Pipeline`).
    */
  object pipeline {
    /** Concat-and-chunk packing of docs into `budget`-token sequences,
      * per source shard; per-sequence stats.
      */
    def packSequences(docs: DataFrame,
      budget: Long = ops.Pipeline.PackBudget): DataFrame =
      ops.Pipeline.packSequencesOf(docs, budget)

    /** Stable hash-based 90/5/5 train/val/test split column. */
    def withSplit(docs: DataFrame): DataFrame =
      ops.Pipeline.withSplit(docs)

    /** Down-sample sources to target mixture weights (binding source
      * keeps ~everything); per-source audit of kept docs/tokens.
      */
    def mixSources(docs: DataFrame): DataFrame =
      ops.Pipeline.mixSourcesOf(docs)

    /** Per-source new-vs-corpus counts for an incoming batch; both
      * frames must carry (source, fp).
      */
    def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
      ops.Pipeline.incrementalOf(corpus, batch)

    /** Pre-filter `fact` by a broadcast bloom filter over `dim`'s join
      * keys; compose with the real join for exact results.
      */
    def bloomPrefilter(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String, expectedKeys: Long): DataFrame =
      ops.Pipeline.bloomPrefilter(fact, factKey, dim, dimKey, expectedKeys)

    /** Long-format numeric column profile (one scan; exact distincts —
      * swap to approx_count_distinct at corpus scale).
      */
    def profile(df: DataFrame, cols: Seq[String]): DataFrame =
      ops.Profile.profileOf(df, cols)

    /** Compact a fragmented parquet directory to ~targetFileBytes
      * files; returns the file count chosen.
      */
    def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L << 20): Int =
      sources.Sources.compactParquet(spark, inDir, outDir, targetFileBytes)

    /** End-to-end curation: quality filter → exact dedup → semantic
      * dedup → split; returns the per-split audit frame.
      */
    def curate(docs: DataFrame, emb: DataFrame): DataFrame =
      ops.Curate.curate(docs, emb)

    /** Z-ordered parquet layout over two integer keys — tight per-file
      * min/max on BOTH columns, so box predicates skip most row groups
      * (`ZOrderSpec` measures ~10× fewer rows scanned).
      */
    def writeZOrdered(df: DataFrame, out: String, colA: String,
      colB: String, nFiles: Int): Unit =
      sources.Sources.writeZOrdered(df, out, colA, colB, nFiles)
  }

  /** Robust statistics over 2-decimal numeric columns (`ops.Robust`):
    * the clamp/flag stage of a numeric feature pipeline, integer-exact
    * so results are engine- and partitioning-independent.
    */
  object stats {
    /** Per-group `|v − μ| > 2σ` outlier counts, computed without ever
      * taking a square root (integer moments).
      */
    def zscoreOutliers(df: DataFrame, group: Column, value: Column): DataFrame =
      ops.Robust.zscoreOutliers(df, group, value)

    /** Clamp `value` to its per-group [pLo, pHi] exact percentiles
      * (whole-percent ranks); per-group clamp counts + winsorized sum.
      */
    def winsorize(df: DataFrame, group: Column, value: Column,
      pLo: Int = 1, pHi: Int = 99): DataFrame =
      ops.Robust.winsorize(df, group, value, pLo, pHi)

    /** Per-group exact-decile binning audit (bin, count, lo, hi) —
      * the quantile discretizer without ntile's row-scale sort.
      */
    def featureBins(df: DataFrame, group: Column, value: Column): DataFrame =
      ops.Robust.featureBins(df, group, value)
  }

  /** Multimodal media columns: opaque binary payloads decoded by real
    * pure-JVM codecs (P6 PPM images, RIFF/WAVE PCM audio) through the
    * mapPartitions batch shape — no shuffle, per-partition codec init,
    * bounded output per row.
    */
  object media {
    /** Decode + per-channel pixel sums over a (doc_id, P6 payload) frame. */
    def imageFeatures(images: Dataset[ops.Multimodal.MediaRow]): Dataset[ops.Multimodal.ImageFeatures] =
      ops.Multimodal.featuresOf(images)

    /** Decode + sample stats (rate, n, sum, |sum|, peak) over a
      * (doc_id, WAV payload) frame.
      */
    def audioFeatures(wavs: Dataset[ops.Multimodal.MediaRow]): DataFrame =
      ops.Multimodal.audioStatsOf(wavs)

    /** The codecs themselves, for per-row use outside a pipeline. */
    def decodePpm(payload: Array[Byte]): ops.Ppm.Image = ops.Ppm.decode(payload)
    def decodeWav(payload: Array[Byte]): ops.Wav.Audio = ops.Wav.decode(payload)
  }
}
