package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Dumps the plans of gate queries, one set of files per query:
  *
  *  - `<query>.formatted.txt` — `explain("formatted")` before execution:
  *    pushdown (`PushedFilters`/`ReadSchema`), broadcasts, partial
  *    aggregation before every exchange, codegen spans;
  *  - `<query>.final.txt` — the AQE-final `executedPlan` after the query
  *    ran: exchange/stage reuse, runtime join rewrites and coalesced
  *    reads only exist in the plan after execution;
  *  - `<query>.stream.<name>.txt` — for stream lanes, the last executed
  *    micro-batch plan of each streaming query it started, captured
  *    through [[graft.streaming.Streaming.planSink]]. Only these show the
  *    stateful operators (`StateStoreSave`, `StreamingSymmetricHashJoin`,
  *    `TransformWithStateExec`, ...); a streaming frame has no physical
  *    plan until `IncrementalExecution` plans a micro-batch;
  *  - `exchanges.tsv` — one row per query, counted from its AQE-final
  *    plan by [[exchangeCounts]] and [[shuffleBytes]]: the gate's
  *    exchange tally and the bytes its shuffles wrote, one method for
  *    every before/after comparison.
  *
  * The session is [[graft.Bench.session]], so the optimizer is the one
  * the gate runs. Usage:
  * {{{
  * runMain graft.tools.PlanDump <outDir> <sfDir> [query ...]
  * }}}
  * With no query names it dumps every `SparkEntry` query. `plan_dump/`
  * is the conventional, git-ignored output dir.
  */
object PlanDump {
  // Literal blobs (a serialized bloom filter inside might_contain, the
  // heavy-hitter sketch arrays inside element_at) print whole in plan
  // conditions — megabytes of constant bytes that drown the plan
  // structure. Collapse any unbroken token beyond 300 chars; the
  // expression tree around it stays intact.
  private val blob = "[^\\s,()\\[\\]]{300,}".r // one unbroken token
  private val numArr = "\\[[-0-9,.E\\s]{300,}\\]".r // numeric array literals

  private def compact(plan: String): String = numArr.replaceAllIn(
    blob.replaceAllIn(plan, m => s"<literal blob, ${m.matched.length} chars>"),
    m => s"<numeric array literal, ${m.matched.length} chars>")

  /** Exchange counts of one `executedPlan` string, read from the plan
    * above its first `== Initial Plan ==` marker (the whole text when
    * the plan is not adaptive). That is the outer Final Plan section up
    * to the first nested adaptive plan (a scalar subquery, an iterated
    * pagerank step), whose own sections are not counted. Operators are
    * matched by name at the head of each tree line:
    * `Exchange`/`BroadcastExchange` count as exchanges, `ReusedExchange`
    * is counted apart, and an `Exchange` over `RoundRobinPartitioning`
    * also counts as round-robin.
    */
  def exchangeCounts(plan: String): (Int, Int, Int) = {
    val op = "^[\\s:+|-]*(?:\\*\\(\\d+\\)\\s*)?(\\w+)".r
    val lines = plan.split("== Initial Plan ==", 2).head.linesIterator
      .flatMap(l => op.findFirstMatchIn(l).map(m => (m.group(1), l))).toSeq
    (lines.count(l => l._1 == "Exchange" || l._1 == "BroadcastExchange"),
      lines.count(_._1 == "ReusedExchange"),
      lines.count(l => l._1 == "Exchange" && l._2.contains("RoundRobinPartitioning")))
  }

  /** Every node of an executed plan's outer tree, the plan
    * [[exchangeCounts]] reads: through its adaptive wrapper, into its
    * query stages and through reused exchanges, so a reused stage's
    * nodes appear once per reader. Nested adaptive plans (scalar
    * subqueries, the plans behind a cached or checkpointed scan) are not
    * entered.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: AdaptiveSparkPlanExec => Nil
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => p.children.flatMap(walk)
    })
    plan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case p => walk(p)
    }
  }

  /** Bytes written by the shuffles of one executed plan: the
    * `shuffleBytesWritten` metric summed over the distinct shuffle
    * exchanges of [[nodes]], a stage read again through a
    * `ReusedExchange` counted once. Nested adaptive plans are not
    * included, and neither are the jobs a builder ran before the query.
    * Read it after the plan has run.
    */
  def shuffleBytes(plan: SparkPlan): Long =
    nodes(plan).collect { case e: ShuffleExchangeExec => e }.distinctBy(_.id)
      .map(_.metrics.get("shuffleBytesWritten").fold(0L)(_.value)).sum

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <sfDir> [query ...]")
    val Array(outDir, sfDir) = args.take(2)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    Files.createDirectories(Paths.get(outDir))
    def write(file: String, text: String): Unit =
      Files.writeString(Paths.get(outDir, file), compact(text))
    val tally = Seq.newBuilder[String]
    val sink = new java.util.concurrent.ConcurrentHashMap[String, String]()
    graft.streaming.Streaming.planSink = sink
    try names.foreach { name =>
      sink.clear()
      // q_graph_pagerank's gate entry collects its bounded 20-row answer
      // eagerly (to release the O(edges) checkpoint pins), so its
      // returned frame is a LocalTableScan — dump the lazy plan it
      // executes instead
      val df =
        if (name == "q_graph_pagerank")
          graft.ops.Graph.pagerankTop20(spark, sfDir)._1
        else graft.SparkEntry.queries(name)(spark, sfDir)
      write(s"$name.formatted.txt",
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      // execute THIS df's own QueryExecution: count() plans a different
      // query and a sink write wraps the plan in its own execution —
      // both leave df's AdaptiveSparkPlan un-finalized. collect() runs
      // the exact plan object whose final form we print (gate outputs
      // are bounded, so the driver-side result is small).
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      write(s"$name.final.txt", finalPlan)
      val (exchanges, reused, roundRobin) = exchangeCounts(finalPlan)
      val bytes = shuffleBytes(df.queryExecution.executedPlan)
      tally += s"$name\t$exchanges\t$reused\t$roundRobin\t$bytes"
      sink.asScala.toSeq.sortBy(_._1).foreach { case (stream, plan) =>
        write(s"$name.stream.$stream.txt", plan)
      }
      if (name.startsWith("q_stream_"))
        graft.streaming.Streaming.retireAll(spark)
      println(s"[plan-dump] $name: ${2 + sink.size} plans")
    } finally graft.streaming.Streaming.planSink = null
    Files.write(Paths.get(outDir, "exchanges.tsv"),
      ("query\texchanges\treused_exchanges\tround_robin\tshuffle_bytes" +:
        tally.result()).asJava)
    println(s"[plan-dump] wrote ${names.size} queries to $outDir")
    spark.stop()
  }
}
