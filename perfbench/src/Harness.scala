package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics and interval arithmetic behind every reported number. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile (nearest rank) that still has at least
    * ten samples above it, with its value; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = 100 * (n - 10) / n
      val rank = math.max(1, (p * n + 99) / 100)
      Some(p -> xs.sorted.apply(rank - 1))
    }
  }

  /** Length of the union of half-open [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(iv: Seq[(Long, Long)], to: (Long, Long)): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, to._1), math.min(e, to._2)) }
      .filter(i => i._2 > i._1)

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - unionLength(clip(children, span))
}

/** Task-metric sums kept per span key, in this order. */
object Field {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskFails = 3
  val CpuNs = 4; val RunMs = 5; val GcMs = 6; val ShWrite = 7; val ShRead = 8
  val FetchWaitMs = 9; val Spill = 10; val InBytes = 11; val InRows = 12
  val OutBytes = 13; val PinBlocks = 14
  val Count = 15
}

/** Spark listener that sums task metrics per span key (the local property
  * the harness sets around each call) and, while `detailed`, keeps job and
  * stage intervals, RDD block residency and SQL execution starts. Written
  * on the listener thread, read by the harness after a drain. */
final class Recorder extends SparkListener {
  @volatile var detailed = false
  private val jobKey = mutable.HashMap.empty[Int, String]
  private val stageKey = mutable.HashMap.empty[Int, String]
  val stageJob = mutable.HashMap.empty[Int, Int]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var resident = 0L
  private var lastKey = ""
  val sums = mutable.HashMap.empty[String, Array[Long]]
  val jobs = mutable.HashMap.empty[Int, (String, Long, Long)]
  val stages = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  val peakPinned = mutable.HashMap.empty[String, Long]
  val sqlStarts = mutable.ArrayBuffer.empty[SparkListenerSQLExecutionStart]
  private val endedKeys = mutable.HashSet.empty[String]

  private def add(key: String, field: Int, v: Long): Unit =
    sums.getOrElseUpdate(key, new Array[Long](Field.Count))(field) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.SpanKey)))
      .getOrElse("")
    jobKey(e.jobId) = key
    e.stageInfos.foreach { s =>
      stageKey.getOrElseUpdate(s.stageId, key)
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
    }
    add(key, Field.Jobs, 1)
    lastKey = key
    if (detailed) jobs(e.jobId) = (key, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val key = jobKey.getOrElse(e.jobId, "")
    endedKeys += key
    jobs.get(e.jobId).foreach { case (k, s, _) => jobs(e.jobId) = (k, s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = stageKey.getOrElse(info.stageId, "")
    add(key, Field.Stages, 1)
    if (detailed)
      for (s <- info.submissionTime; c <- info.completionTime)
        stages += ((key, info.stageId, s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = stageKey.getOrElse(e.stageId, "")
    add(key, Field.Tasks, 1)
    if (e.reason != Success) add(key, Field.TaskFails, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(key, Field.CpuNs, m.executorCpuTime)
      add(key, Field.RunMs, m.executorRunTime)
      add(key, Field.GcMs, m.jvmGCTime)
      add(key, Field.ShWrite, m.shuffleWriteMetrics.bytesWritten)
      add(key, Field.ShRead, m.shuffleReadMetrics.totalBytesRead)
      add(key, Field.FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
      add(key, Field.Spill, m.diskBytesSpilled)
      add(key, Field.InBytes, m.inputMetrics.bytesRead)
      add(key, Field.InRows, m.inputMetrics.recordsRead)
      add(key, Field.OutBytes, m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (detailed && info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = blockBytes.getOrElse(id, 0L)
      if (size > 0) blockBytes(id) = size else blockBytes.remove(id)
      resident += size - prev
      if (prev == 0 && size > 0) add(lastKey, Field.PinBlocks, 1)
      peakPinned(lastKey) = math.max(peakPinned.getOrElse(lastKey, 0L), resident)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if detailed => synchronized { sqlStarts += s }
    case _ =>
  }

  def sawJobEnd(key: String): Boolean = synchronized(endedKeys.contains(key))
  def sum(key: String): Array[Long] =
    synchronized(sums.getOrElse(key, new Array[Long](Field.Count)).clone())
}

/** One executed action: Catalyst phase times, and for a `count` the scan
  * and exchange nodes of its final (AQE) plan. */
final case class PlanRec(funcName: String, startMs: Long, phasesMs: Map[String, Long],
    scans: Int, exchanges: Int, ok: Boolean)

final class PlanRecorder extends QueryExecutionListener {
  val recs = new ConcurrentLinkedQueue[PlanRec]()

  private def leaves(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case s: QueryStageExec => leaves(s.plan)
    case _: ReusedExchangeExec => (0, 0)
    case _ =>
      val below = (p.children ++ p.subqueries).map(leaves)
        .foldLeft((0, 0))((a, b) => (a._1 + b._1, a._2 + b._2))
      val self = p match {
        case _: Exchange => (0, 1)
        case _ if p.children.isEmpty => (1, 0)
        case _ => (0, 0)
      }
      (below._1 + self._1, below._2 + self._2)
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    val (scans, exchanges) =
      if (ok && funcName == "count") leaves(qe.executedPlan) else (0, 0)
    recs.add(PlanRec(funcName, start, phases.map { case (k, v) => k -> v.durationMs },
      scans, exchanges, ok))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)
}

/** One micro-batch's progress: trigger start and `durationMs` phases. */
final case class BatchRec(runId: String, startMs: Long, phasesMs: Map[String, Long],
    stateRows: Long, stateBytes: Long)

final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  val started = new AtomicInteger()
  val terminated = new AtomicInteger()
  val runIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    runIds.add(e.runId.toString); started.incrementAndGet()
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(BatchRec(p.runId.toString,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    terminated.incrementAndGet()
  }
}

/** One timed query: wall-clock marks (ms, for matching Spark's event
  * times), build and action durations (ns) and the row count. */
final case class QueryRun(pass: Int, name: String, traced: Boolean, t0: Long, t1: Long,
    t2: Long, buildNs: Long, actionNs: Long, rows: Long, compiles: Long,
    error: Option[String]) {
  def wallS: Double = (buildNs + actionNs) / 1e9
  def key(phase: String): String = s"$pass/$name/$phase"
}

/** Runs one workload: session, setup, timed passes and (traced) layers.
  * Writes its result object to `--result`, then prints PERFBENCH_DONE and
  * waits for stdin to close, so the caller can read its peak RSS. */
object Harness {
  val SpanKey = "perfbench.span"
  val WarmPasses = 1
  type Builder = (SparkSession, String) => DataFrame

  final case class Args(queries: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, data: String, dump: String,
      result: String, spans: String, cpus: Int, benchSource: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("queries").split(",").toSeq.filter(_.nonEmpty), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("data"), m("dump"),
      m("result"), m("spans"), m("cpus").toInt, m("bench-source"))
  }

  /** The confs `graft.Bench` sets, for `cpus` cores. */
  def sessionConfs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    sessionConfs(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads the master and `.config` calls out of Bench's source, with its
    * `cpus` variable bound to `cpus`, and fails unless the live session
    * matches them and the optimizer runs CollapseRedundantRound. */
  def checkParity(spark: SparkSession, cpus: Int, benchSource: String): Unit = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchSource)), "UTF-8")
    val bind = (v: String) => v.trim match {
      case "cpus" => cpus.toString
      case s if s.startsWith("\"") && s.endsWith("\"") => s.drop(1).dropRight(1)
      case other => sys.error(s"session parity: unparsed Bench conf value $other")
    }
    val benchConfs = """\.config\("([^"]+)",\s*([^)]+)\)""".r
      .findAllMatchIn(src).map(m => m.group(1) -> bind(m.group(2))).toMap
    val benchMaster = """\.master\(s?"([^"]+)"\)""".r.findFirstMatchIn(src)
      .map(_.group(1).replace("$cpus", cpus.toString))
    val problems = mutable.ArrayBuffer.empty[String]
    if (benchConfs.isEmpty) problems += "no .config calls found in Bench"
    if (benchConfs != sessionConfs(cpus))
      problems += s"confs differ: Bench $benchConfs, harness ${sessionConfs(cpus)}"
    benchConfs.foreach { case (k, v) =>
      val live = spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
      if (!live.contains(v)) problems += s"$k is $live in the session, $v in Bench"
    }
    if (!benchMaster.contains(spark.sparkContext.master))
      problems += s"master ${spark.sparkContext.master}, Bench $benchMaster"
    val rules = spark.asInstanceOf[ClassicSession].sessionState.optimizer.batches
      .flatMap(_.rules)
    if (!rules.exists(_ eq graft.plans.CollapseRedundantRound))
      problems += "CollapseRedundantRound is not in the optimizer"
    if (problems.nonEmpty) sys.error("session parity failed: " + problems.mkString("; "))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val all = graft.SparkEntry.queries
    val unknown = args.queries.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val t0 = System.nanoTime()
    val spark = session(args.cpus)
    checkParity(spark, args.cpus, args.benchSource)
    val h = new Harness(spark, args.queries.map(q => q -> all(q)), args.cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rows = h.setup(args.data, Some(args.dump), WarmPasses)
    val setupS = (System.nanoTime() - t0) / 1e9
    val runs = h.timed(args.data, args.seed, args.seconds, args.trace)
    val out = new StringBuilder
    out ++= s"""{"session_s": $sessionS, "setup_s": $setupS, """
    out ++= s""""setup_parts": ${Json.obj(h.setupParts.map { case (k, v) => k -> Json.num(v) })}, """
    out ++= s""""dump_rows": ${Json.obj(rows.map { case (k, v) => k -> v.toString })}, """
    out ++= s""""runs": [${runs.map(h.runJson).mkString(", ")}], """
    out ++= s""""e2e": ${Json.obj(h.endToEnd(runs.filterNot(_.traced)).map { case (k, v) => k -> Json.num(v) })}"""
    if (args.trace) {
      val layers = h.layers(runs)
      out ++= s""", "layers": ${Json.obj(layers.map { case (k, v) => k -> Json.num(v) })}"""
      h.writeSpans(args.spans, runs)
    }
    out ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.result), out.toString)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.dump, "oracle_sql.json"),
      Json.obj(graft.SparkEntry.oracleSql.filter(kv => args.queries.contains(kv._1))
        .map { case (k, v) => k -> Json.str(v) }))
    spark.stop()
    // The caller reads this JVM's peak RSS now, then closes stdin.
    println("PERFBENCH_DONE")
    System.out.flush()
    while (System.in.read() >= 0) {}
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

final class Harness(spark: SparkSession, queries: Seq[(String, Harness.Builder)], cpus: Int) {
  import Harness.SpanKey
  private val sc = spark.sparkContext
  val recorder = new Recorder
  val plans = new PlanRecorder
  val streams = new StreamRecorder
  sc.addSparkListener(recorder)
  private var drains = 0
  val setupParts = mutable.LinkedHashMap.empty[String, Double]

  private def isStream(name: String) = name.startsWith("q_stream_")

  /** Waits until the listeners have seen every event posted so far: a
    * marker job's end on the shared queue, and a terminated event for
    * every streaming query started. */
  def drain(): Unit = {
    drains += 1
    val tag = s"drain/$drains"
    sc.setLocalProperty(SpanKey, tag)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 60e9.toLong
    while ((!recorder.sawJobEnd(tag) || streams.started.get != streams.terminated.get) &&
        System.nanoTime() < deadline) Thread.sleep(2)
    require(recorder.sawJobEnd(tag), "listener bus did not drain within 60 s")
  }

  private def checkAlive(name: String): Unit =
    if (sc.isStopped) {
      System.err.println(s"perfbench: SparkContext stopped during $name, aborting")
      sys.exit(3)
    }

  /** Runs each query once on the timed input, untimed, dumping its result
    * for the oracle check, then `warmPasses` untimed passes. This compiles
    * every query's code path at the timed scale and fills the per-JVM memos
    * and staged copies the timed passes then reuse. The JIT is not settled
    * yet: the first timed pass can still be a fifth slower than the later
    * ones, which the per-query medians over the timed passes absorb.
    * Returns the dumped row count per query; a failure here aborts the run.
    * `setupParts` keeps the time of each query's first run and of the warm
    * passes. */
  def setup(dir: String, dump: Option[String], warmPasses: Int): Map[String, Long] = {
    val rows = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val n = dump match {
        case Some(d) =>
          df.repartition(1).write.mode("overwrite").parquet(s"$d/$name")
          spark.read.parquet(s"$d/$name").count()
        case None => df.count()
      }
      checkAlive(name)
      if (isStream(name)) graft.streaming.Streaming.retireAll(spark)
      setupParts(s"first_run.$name") = (System.nanoTime() - t0) / 1e9
      name -> n
    }.toMap
    val t0 = System.nanoTime()
    for (_ <- 1 to warmPasses; (name, fn) <- queries) {
      fn(spark, dir).count()
      checkAlive(name)
      if (isStream(name)) graft.streaming.Streaming.retireAll(spark)
    }
    drain()
    setupParts("warm_passes") = (System.nanoTime() - t0) / 1e9
    rows
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runQuery(pass: Int, traced: Boolean, name: String, fn: Harness.Builder,
      dir: String): QueryRun = {
    val c0 = compiles()
    sc.setLocalProperty(SpanKey, s"$pass/$name/build")
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var t1 = t0; var n1 = n0; var rows = -1L
    val error = try {
      val df = fn(spark, dir)
      t1 = System.currentTimeMillis(); n1 = System.nanoTime()
      sc.setLocalProperty(SpanKey, s"$pass/$name/action")
      rows = df.count()
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val n2 = System.nanoTime(); val t2 = System.currentTimeMillis()
    if (t1 == t0 && error.isDefined) { t1 = t2; n1 = n2 }
    sc.setLocalProperty(SpanKey, null)
    if (isStream(name)) graft.streaming.Streaming.retireAll(spark)
    checkAlive(name)
    QueryRun(pass, name, traced, t0, t1, t2, n1 - n0, n2 - n1, rows, compiles() - c0, error)
  }

  private def setTracing(on: Boolean): Unit = {
    recorder.detailed = on
    if (on) {
      spark.asInstanceOf[ClassicSession].listenerManager.register(plans)
      spark.streams.addListener(streams)
    } else {
      spark.asInstanceOf[ClassicSession].listenerManager.unregister(plans)
      spark.streams.removeListener(streams)
    }
  }

  /** Closed-loop timed passes: each pass runs every query once, in an
    * order drawn from the seed, until `seconds` have elapsed (at least one
    * pass; two when tracing, which alternates untraced and traced passes
    * so the difference is the tracing overhead). */
  def timed(dir: String, seed: Long, seconds: Double, trace: Boolean): Seq[QueryRun] = {
    val rng = new scala.util.Random(seed)
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val start = System.nanoTime()
    var pass = 0
    while (pass < (if (trace) 2 else 1) || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 1
      if (traced) setTracing(on = true)
      rng.shuffle(queries).foreach { case (name, fn) =>
        runs += runQuery(pass, traced, name, fn, dir)
      }
      drain()
      if (traced) setTracing(on = false)
      pass += 1
    }
    runs.toSeq
  }

  private def passes(runs: Seq[QueryRun]): Seq[Seq[QueryRun]] =
    runs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)

  private def passSum(pass: Seq[QueryRun], field: Int): Long =
    pass.flatMap(q => Seq(q.key("build"), q.key("action")))
      .map(k => recorder.sum(k)(field)).sum

  /** Per-pass figures of a typical pass: each query's median over the
    * passes, summed over the workload. An occasional slow execution of one
    * query (a JIT deoptimization or a generated-code recompile) then moves
    * one sample of that query, not the pass. */
  def typicalPass(runs: Seq[QueryRun], f: QueryRun => Double): Double =
    runs.groupBy(_.name).values.map(rs => Stats.median(rs.map(f))).sum

  /** pass_s, per-query percentiles, executor CPU, jobs and shuffle MB per
    * pass. */
  def endToEnd(runs: Seq[QueryRun]): Seq[(String, Double)] = {
    val samples = runs.map(_.wallS)
    val (tailP, tailV) = Stats.tail(samples).getOrElse(100 -> samples.max)
    def field(q: QueryRun, f: Int) = passSum(Seq(q), f).toDouble
    Seq(
      "pass_s" -> typicalPass(runs, _.wallS),
      "query_s.p50" -> Stats.median(samples),
      "query_s.tail" -> tailV,
      "query_s.tail_percentile" -> tailP.toDouble,
      "query_s.samples" -> samples.size.toDouble,
      "cpu_s" -> typicalPass(runs, field(_, Field.CpuNs) / 1e9),
      "jobs" -> typicalPass(runs, field(_, Field.Jobs)),
      "shuffle_mb" -> typicalPass(runs, field(_, Field.ShWrite) / 1e6),
      "passes" -> passes(runs).size.toDouble)
  }

  /** Time decomposition of one traced query: executor (union of its
    * stages), scheduler (job time not covered by a stage) and driver gap
    * (time outside any job), each clipped to the query's span. The driver
    * gap is the remainder, so the three add up to the wall by definition. */
  def decompose(q: QueryRun): Map[String, Double] = {
    val span = (q.t0, q.t2)
    val (jobIv, stageIv) = recorder.synchronized {
      val keys = Set(q.key("build"), q.key("action"))
      val ids = recorder.jobs.collect { case (id, (k, s, e)) if keys(k) => id -> (s, e) }
      (ids.values.toSeq, recorder.stages.collect { case (k, _, s, e) if keys(k) => (s, e) }.toSeq)
    }
    val buildJobs = recorder.synchronized(recorder.jobs.values.collect {
      case (k, s, e) if k == q.key("build") => (s, e) }.toSeq)
    val wall = (q.t2 - q.t0).toDouble
    val jobCover = Stats.unionLength(Stats.clip(jobIv, span)).toDouble
    val stageCover = Stats.unionLength(Stats.clip(stageIv, span)).toDouble
    Map(
      "wall" -> wall / 1e3,
      "executor" -> stageCover / 1e3,
      "scheduler" -> (jobCover - stageCover) / 1e3,
      "driver_gap" -> (wall - jobCover) / 1e3,
      "build_self" -> Stats.selfTime((q.t0, q.t1), buildJobs) / 1e3)
  }

  private def within(q: QueryRun, ms: Long) = ms >= q.t0 && ms <= q.t2

  /** Per-layer metrics from the traced passes (median over them), plus the
    * tracing overhead against the untraced passes of the same run. */
  def layers(runs: Seq[QueryRun]): Seq[(String, Double)] = {
    val traced = passes(runs.filter(_.traced))
    val untraced = passes(runs.filterNot(_.traced))
    val planRecs = plans.recs.asScala.toSeq
    val batchRecs = streams.batches.asScala.toSeq
    val streamRuns = streams.runIds.asScala.toSet
    val sqlStarts = recorder.synchronized(recorder.sqlStarts.toSeq)
    val passKeys = traced.flatten.flatMap(q => Seq(q.key("build"), q.key("action"))).toSet
    val unattributed = recorder.synchronized(recorder.jobs.values.count(j =>
      !passKeys(j._1) && !j._1.startsWith("drain/")))

    def one(pass: Seq[QueryRun]): Map[String, Double] = {
      def s(f: Int) = passSum(pass, f).toDouble
      val dec = pass.map(decompose)
      def dsum(k: String) = dec.map(_(k)).sum
      val buildJobs = pass.map(q => recorder.sum(q.key("build"))(Field.Jobs)).sum
      val actions = pass.map(q => sqlStarts.count(e => within(q, e.time) &&
        e.rootExecutionId.forall(_ == e.executionId) &&
        !e.jobGroupId.exists(streamRuns.contains)))
      val qPlans = pass.map(q => planRecs.filter(r => within(q, r.startMs)))
      val timedCounts = pass.flatMap(q => planRecs.filter(r =>
        r.funcName == "count" && r.startMs >= q.t1 && r.startMs <= q.t2).take(1))
      def phase(name: String) = qPlans.flatten.map(_.phasesMs.getOrElse(name, 0L)).sum / 1e3
      val qBatches = pass.filter(q => isStream(q.name)).map(q =>
        q -> batchRecs.filter(b => within(q, b.startMs)))
      def bphase(name: String) =
        qBatches.flatMap(_._2).map(_.phasesMs.getOrElse(name, 0L)).sum / 1e3
      val lastState = qBatches.flatMap { case (_, bs) =>
        bs.groupBy(_.runId).values.map(_.maxBy(_.startMs)) }
      val pinned = recorder.synchronized(pass.flatMap(q =>
        Seq(q.key("build"), q.key("action")).flatMap(recorder.peakPinned.get)))
      val jobWall = dsum("executor") + dsum("scheduler")
      val stages = s(Field.Stages)
      Map(
        "ops.build_s" -> pass.map(_.buildNs / 1e9).sum,
        "ops.build_self_s" -> dsum("build_self"),
        "ops.build_jobs" -> buildJobs.toDouble,
        "ops.actions" -> actions.sum.toDouble,
        "ops.multi_action_queries" -> actions.count(_ > 1).toDouble,
        "storage.pinned_mb" -> (if (pinned.isEmpty) 0.0 else pinned.max / 1e6),
        "storage.pin_blocks" -> s(Field.PinBlocks),
        "plans.analysis_s" -> phase("analysis"),
        "plans.optimization_s" -> phase("optimization"),
        "plans.planning_s" -> phase("planning"),
        "plans.scan_nodes" -> timedCounts.map(_.scans).sum.toDouble,
        "plans.exchange_nodes" -> timedCounts.map(_.exchanges).sum.toDouble,
        "plans.failed_actions" -> qPlans.flatten.count(!_.ok).toDouble,
        "plans.codegen_compiles" -> pass.map(_.compiles).sum.toDouble,
        "scheduler.jobs" -> s(Field.Jobs),
        "scheduler.stages" -> stages,
        "scheduler.tasks" -> s(Field.Tasks),
        "scheduler.tasks_per_stage" -> (if (stages > 0) s(Field.Tasks) / stages else 0.0),
        "scheduler.job_wall_s" -> jobWall,
        "scheduler.job_self_s" -> dsum("scheduler"),
        "scheduler.driver_gap_s" -> dsum("driver_gap"),
        "scheduler.task_failures" -> s(Field.TaskFails),
        "executor.stage_wall_s" -> dsum("executor"),
        "executor.run_s" -> s(Field.RunMs) / 1e3,
        "executor.cpu_s" -> s(Field.CpuNs) / 1e9,
        "executor.gc_s" -> s(Field.GcMs) / 1e3,
        "executor.core_util" ->
          (if (jobWall > 0) s(Field.CpuNs) / 1e9 / (cpus * jobWall) else 0.0),
        "shuffle.write_mb" -> s(Field.ShWrite) / 1e6,
        "shuffle.read_mb" -> s(Field.ShRead) / 1e6,
        "shuffle.fetch_wait_s" -> s(Field.FetchWaitMs) / 1e3,
        "shuffle.spill_mb" -> s(Field.Spill) / 1e6,
        "sources.input_mb" -> s(Field.InBytes) / 1e6,
        "sources.input_rows" -> s(Field.InRows),
        "sources.output_mb" -> s(Field.OutBytes) / 1e6,
        "streaming.micro_batches" -> qBatches.map(_._2.size).sum.toDouble,
        "streaming.latest_offset_s" -> bphase("latestOffset"),
        "streaming.query_planning_s" -> bphase("queryPlanning"),
        "streaming.wal_commit_s" -> bphase("walCommit"),
        "streaming.add_batch_s" -> bphase("addBatch"),
        "streaming.commit_offsets_s" -> bphase("commitOffsets"),
        "streaming.outside_batch_s" -> qBatches.map { case (q, bs) =>
          q.wallS - bs.map(_.phasesMs.getOrElse("triggerExecution", 0L)).sum / 1e3 }.sum,
        "streaming.state_rows" -> lastState.map(_.stateRows).sum.toDouble,
        "streaming.state_mb" -> lastState.map(_.stateBytes).sum / 1e6,
        "trace.pass_s" -> pass.map(_.wallS).sum)
    }

    val perPass = traced.map(one)
    val keys = perPass.head.keys.toSeq.sorted
    keys.map(k => k -> Stats.median(perPass.map(_(k)))) ++ Seq(
      "trace.overhead_s" ->
        (Stats.median(traced.map(_.map(_.wallS).sum)) -
          Stats.median(untraced.map(_.map(_.wallS).sum))),
      "trace.unattributed_jobs" -> unattributed.toDouble)
  }

  def runJson(q: QueryRun): String = Json.obj(Seq(
    "pass" -> q.pass.toString, "name" -> Json.str(q.name), "traced" -> q.traced.toString,
    "build_s" -> Json.num(q.buildNs / 1e9), "action_s" -> Json.num(q.actionNs / 1e9),
    "rows" -> q.rows.toString, "codegen_compiles" -> q.compiles.toString,
    "build_jobs" -> recorder.sum(q.key("build"))(Field.Jobs).toString,
    "action_jobs" -> recorder.sum(q.key("action"))(Field.Jobs).toString,
    "cpu_s" -> Json.num(Seq("build", "action").map(p => recorder.sum(q.key(p))(Field.CpuNs)).sum / 1e9),
    "shuffle_mb" -> Json.num(Seq("build", "action").map(p => recorder.sum(q.key(p))(Field.ShWrite)).sum / 1e6)) ++
    q.error.map(e => "error" -> Json.str(e)))

  /** The traced passes' span tree, one JSON object per line: queries with
    * their build and action, jobs and stages under the phase that ran them,
    * SQL executions and micro-batches alongside. */
  def writeSpans(path: String, runs: Seq[QueryRun]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      def span(kind: String, name: String, parent: String, s: Long, e: Long) =
        w.println(Json.obj(Seq("kind" -> Json.str(kind), "name" -> Json.str(name),
          "parent" -> Json.str(parent), "start_ms" -> s.toString, "end_ms" -> e.toString)))
      val tracedRuns = runs.filter(_.traced)
      tracedRuns.foreach { q =>
        val id = s"${q.pass}/${q.name}"
        span("query", id, s"pass/${q.pass}", q.t0, q.t2)
        span("ops.build", q.key("build"), id, q.t0, q.t1)
        span("action", q.key("action"), id, q.t1, q.t2)
      }
      val keys = tracedRuns.flatMap(q => Seq(q.key("build"), q.key("action"))).toSet
      recorder.synchronized {
        recorder.jobs.toSeq.sortBy(_._1).foreach { case (id, (k, s, e)) =>
          if (keys(k)) span("job", s"job/$id", k, s, e) }
        recorder.stages.foreach { case (k, id, s, e) =>
          if (keys(k)) span("stage", s"stage/$id", s"job/${recorder.stageJob(id)}", s, e) }
      }
      plans.recs.asScala.foreach(r => span("sql", r.funcName, "",
        r.startMs, r.startMs + r.phasesMs.values.sum))
      streams.batches.asScala.foreach(b => span("micro_batch", b.runId, "",
        b.startMs, b.startMs + b.phasesMs.getOrElse("triggerExecution", 0L)))
    } finally w.close()
  }
}
