package graft

/** Building a query runs no Spark job: for every non-streaming
  * [[SparkEntry]] query, the builder's SECOND call — after the first has
  * filled the per-JVM memos and staged layouts — starts 0 jobs. The
  * builders that are still eager are listed with the call that runs
  * their job; each must still run one, so the list only shrinks as
  * builders turn lazy.
  */
class BuilderJobsSpec extends SparkTestBase {

  /** Eager builders and the call that runs their job(s). */
  val eager: Map[String, String] = Map(
    "q_bloom_join" -> "Pipeline.bloomPrefilter: bloom_filter_agg .head",
    "q_dedup_keep_best" -> "Dedup.resolveComponents: pairs probe collect()",
    "q_dedup_resolve" -> "Dedup.resolveComponents: pairs probe collect()",
    "q_graph_pagerank" -> "Graph.qGraphPagerank: checkpointed iterations, out.collect()",
    "q_heavy_hitters" -> "HeavyHitters.heavyHitters: count-min sketch collect()",
    "q_hybrid_search_ivf" -> "Sim.ivfPrunedTopK: probe-list collect()",
    "q_pmi_bigrams" -> "Text2.qPmiBigrams: eager localCheckpoint",
    "q_sim_ivf_kmeans" -> "Sim.ivfKmeansTopK: KMeans fit, query-vector head()",
    "q_sim_ivf_pruned" -> "Sim.ivfPrunedTopK: probe-list collect()",
    "q_sink_roundtrip" -> "Sources.qSinkRoundtrip: CSV write",
    "q_unigram_lm" -> "Text2.qUnigramLm: eager localCheckpoint",
    "q_zorder_scan" -> "Sources.qZOrderScan: box bounds agg head()")

  private val builders = SparkEntry.queries.toSeq
    .filterNot(_._1.startsWith("q_stream_")).sortBy(_._1)

  test("a builder's second call runs no Spark job, except the eager list") {
    val jobs = builders.map { case (name, fn) =>
      fn(spark, sfDir)
      name -> jobsRunBy(fn(spark, sfDir))
    }
    val unexpected = jobs.filter { case (n, j) => j > 0 && !eager.contains(n) }
    val stale = jobs.filter { case (n, j) => j == 0 && eager.contains(n) }
    assert(unexpected.isEmpty, s"builders that ran jobs: $unexpected")
    assert(stale.isEmpty, s"listed as eager but ran no job: $stale")
    assert(eager.keySet.subsetOf(builders.map(_._1).toSet))
  }
}
