package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery,
  StreamingQueryListener}

import graft.streaming.Streaming

/** Pins the memory-sink retirement lifecycle (`Streaming.retirePrevious`)
  * and the `adaptiveStateParts` sizing formula — the machinery that kept
  * the two-pass 100× bench inside driver memory (round 9) but had no
  * direct unit coverage until round 11.
  *
  * The held-frame semantics below are the EMPIRICAL behavior (verified
  * here, documented in `runToMemory`'s scaladoc): `spark.table(name)`
  * resolves the temp view at creation time, so a frame handed out by a
  * previous run keeps serving the retired run's rows after its view is
  * dropped — retirement unregisters the name (fresh lookups fail loudly)
  * but does not invalidate live frames. That is why the contract is
  * "consume before re-invoking": the stale frame's rows stay GC-reachable
  * exactly as long as the frame does.
  *
  * Also pins the single lifecycle path: `Streaming.withConfs` restores
  * every key it sets, the stream reader, stream start, memory-sink writer
  * and temp-dir root each live in one place, and a stream lane re-run
  * reuses its generated classes.
  */
class StreamingLifecycleSpec extends SparkTestBase {

  private def runCounts(name: String): DataFrame = {
    val d = Files.createTempDirectory("graft-retire").toString
    spark.range(5).select(col("id")).coalesce(1).write.mode("overwrite").parquet(d)
    val stream = spark.readStream
      .schema("id LONG")
      .parquet(d)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"))
    Streaming.runToMemory(stream, name, OutputMode.Complete())
  }

  test("retirePrevious drops exactly the previous family view, keeps the current") {
    val first = runCounts("graft_retire_fam_1")
    assert(first.count() === 5L)
    assert(spark.catalog.tableExists("graft_retire_fam_1"))

    runCounts("graft_retire_fam_2")
    assert(!spark.catalog.tableExists("graft_retire_fam_1"),
      "previous run's memory-sink view must be retired")
    assert(spark.catalog.tableExists("graft_retire_fam_2"),
      "the current run's view must survive its own registration")
  }

  test("a frame held across retirement serves stale rows; a fresh lookup fails loudly") {
    val held = runCounts("graft_retire_held_1")
    runCounts("graft_retire_held_2") // retires _1's view

    // The held frame's plan was resolved when spark.table() created it:
    // it silently keeps answering from the retired sink (this is the
    // GC-pinning hazard the consume-before-reinvoke contract exists for).
    assert(held.count() === 5L,
      "held frame should still serve the retired run's rows")

    // But the NAME is gone: re-resolving it fails at lookup, loudly.
    val ex = intercept[AnalysisException] {
      spark.table("graft_retire_held_1").count()
    }
    assert(ex.getCondition != null &&
      ex.getCondition.contains("TABLE_OR_VIEW_NOT_FOUND"),
      s"expected TABLE_OR_VIEW_NOT_FOUND, got: ${ex.getMessage}")
  }

  test("retireAll drops every registered sink view and the next run re-registers cleanly") {
    runCounts("graft_retireall_a_1")
    runCounts("graft_retireall_b_1")
    assert(spark.catalog.tableExists("graft_retireall_a_1"))
    assert(spark.catalog.tableExists("graft_retireall_b_1"))

    Streaming.retireAll(spark)
    assert(!spark.catalog.tableExists("graft_retireall_a_1"),
      "retireAll must drop every family's latest view")
    assert(!spark.catalog.tableExists("graft_retireall_b_1"),
      "retireAll must drop every family's latest view")

    // the cleared map must not confuse per-family retirement: a fresh
    // run of family a registers, works, and is droppable again
    val again = runCounts("graft_retireall_a_2")
    assert(again.count() === 5L)
    assert(spark.catalog.tableExists("graft_retireall_a_2"))
    Streaming.retireAll(spark)
    assert(!spark.catalog.tableExists("graft_retireall_a_2"))
  }

  test("adaptiveStateParts: tiny zone floors at 8, large zone tracks bytes, floor beats cap") {
    val MiB = 1L << 20
    // tiny zone (≤ ~32 MiB): per-store maintenance dominates → the floor
    assert(Streaming.adaptiveStatePartsFor(0L, 32) === 8)
    assert(Streaming.adaptiveStatePartsFor(32 * MiB, 32) === 8)
    // large zone: one partition per ~4 MiB, capped at parallelism
    assert(Streaming.adaptiveStatePartsFor(100 * MiB, 32) === 25)
    assert(Streaming.adaptiveStatePartsFor(1024 * MiB, 32) === 32)
    assert(Streaming.adaptiveStatePartsFor(1024 * MiB, 16) === 16)
    // parallelism below the floor: floor is applied LAST and wins —
    // a local[4] session still gets 8 state stores (r10's ordering fix)
    assert(Streaming.adaptiveStatePartsFor(0L, 4) === 8)
    assert(Streaming.adaptiveStatePartsFor(1024 * MiB, 4) === 8)
    // the live entry point agrees with the pure formula on a real dir
    assert(Streaming.adaptiveStateParts(spark, "/nonexistent/path") === 8)
  }

  test("withConfs restores a set key and unsets an unset one, also on a throw") {
    val set = "spark.graft.test.withConfs.set"
    val unset = "spark.graft.test.withConfs.unset"
    spark.conf.set(set, "before")
    spark.conf.unset(unset)
    def assertRestored(): Unit = {
      assert(spark.conf.get(set) === "before")
      assert(spark.conf.getOption(unset).isEmpty)
    }
    val inside = Seq(set -> "inside", unset -> "inside")
    val seen = Streaming.withConfs(spark, inside) {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen === (("inside", "inside")))
    assertRestored()
    intercept[IllegalStateException] {
      Streaming.withConfs(spark, inside) {
        throw new IllegalStateException("body failed")
      }
    }
    assertRestored()
    spark.conf.unset(set)
  }

  test("withConfs leaves a known key unset when it was unset") {
    // conf.getOption answers an unset known key with its default; the
    // scope must not restore that default as an explicit setting
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(key)
    Streaming.withConfs(spark, Seq(key -> "false")) {
      assert(spark.conf.get(key) === "false")
    }
    assert(!spark.conf.getAll.contains(key))
  }

  test("every stream lane's second run compiles no class; the session's isolation conf is untouched") {
    // Stream queries start with artifact isolation off on their session
    // clone only (`Streaming.startConfs`), so a re-run's tasks load the
    // previous run's generated classes. Every lane checkpoints on the
    // local filesystem, so its clone also carries the rename-committing
    // checkpoint manager. Run 1 leaves both keys unset on the session,
    // run 2 sets them: both must find them as they left them. Both runs
    // must also take the same micro-batches: a run that split its feed
    // differently would plan, and compile, other shapes.
    val key = "spark.sql.artifact.isolation.enabled"
    val managerKey = Streaming.CheckpointManagerKey
    val defaultManager = "org.apache.spark.sql.execution.streaming." +
      "checkpointing.FileContextBasedCheckpointFileManager"
    def compiles() = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val started, ended, batches = new AtomicInteger()
    val cloneManagers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      // the started event reaches listeners before `start()` returns;
      // progress and termination arrive later, in order, on the bus
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        cloneManagers.add(streamSession(spark.streams.get(e.id))
          .conf.getOption(managerKey).getOrElse("<unset>"))
        started.incrementAndGet()
      }
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.incrementAndGet()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.incrementAndGet()
    }
    def run(fn: (SparkSession, String) => DataFrame): Int = {
      val b0 = batches.get
      fn(spark, sfDir).count()
      Streaming.retireAll(spark)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (ended.get < started.get && System.nanoTime() < deadline)
        Thread.sleep(2)
      assert(ended.get === started.get, "listener bus did not drain in 60 s")
      batches.get - b0
    }
    val lanes = SparkEntry.queries.toSeq.filter(_._1.startsWith("q_stream_"))
    assert(lanes.size === 13)
    spark.streams.addListener(listener)
    val problems = try lanes.flatMap { case (name, fn) =>
      spark.conf.unset(key)
      spark.conf.unset(managerKey)
      cloneManagers.clear()
      val batches1 = run(fn)
      val unsetKept = !spark.conf.getAll.contains(key) &&
        !spark.conf.getAll.contains(managerKey)
      val c0 = compiles()
      val set = Seq(key -> "true", managerKey -> defaultManager)
      val (batches2, setKept) = Streaming.withConfs(spark, set) {
        (run(fn),
          set.forall { case (k, v) => spark.conf.getAll.get(k).contains(v) })
      }
      val recompiled = compiles() - c0
      val managers = cloneManagers.asScala.toSeq
      Seq(s"$name: run 2 compiled $recompiled classes" -> (recompiled == 0),
        s"$name: $batches1 then $batches2 micro-batches" ->
          (batches1 == batches2 && batches1 > 0),
        s"$name: clones' checkpoint managers $managers" -> (managers.nonEmpty &&
          managers.forall(_ == Streaming.RenameCheckpointManager)),
        s"$name: unset key was set" -> unsetKept,
        s"$name: set key changed" -> setKept).collect { case (p, false) => p }
    } finally spark.streams.removeListener(listener)
    assert(problems === Nil)
  }

  /** The session clone a started query runs on (`StreamExecution` keeps it
    * in a field Spark does not expose to other packages).
    */
  private def streamSession(q: StreamingQuery): SparkSession = {
    val exec = q.getClass.getMethod("streamingQuery").invoke(q)
    exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
      .asInstanceOf[SparkSession]
  }

  test("only a local checkpoint root commits by rename; the decision reads no filesystem") {
    // the URIs are never opened: an `hdfs://nn` root would fail any lookup
    val local = "file:///"
    def renames(ckpt: Option[String], sessionRoot: Option[String] = None,
        defaultFS: String = local) =
      Streaming.localCheckpointRoot(ckpt, sessionRoot, defaultFS)
    assert(renames(None), "Spark's temporary checkpoint is local")
    assert(renames(Some("file:/x")))
    assert(renames(Some("/x")), "a scheme-less root under a local defaultFS")
    assert(!renames(Some("hdfs://nn/x")))
    assert(!renames(None, sessionRoot = Some("hdfs://nn/c")),
      "the session's checkpointLocation roots a query started without one")
    assert(renames(Some("file:/x"), sessionRoot = Some("hdfs://nn/c")),
      "the query's own root wins over the session's")
    assert(!renames(Some("/x"), defaultFS = "hdfs://nn"),
      "a scheme-less root resolves against defaultFS")
    assert(!renames(None, defaultFS = "hdfs://nn"))
  }

  test("an upsert run's store and checkpoint go at the next run or at retireAll") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def upsertDirs() = tmp.list().count(_.startsWith("graft_stream_upsert_"))
    Streaming.retireAll(spark)
    val before = upsertDirs()
    assert(Streaming.qStreamUpsert(spark, sfDir).count() > 0L)
    assert(upsertDirs() === before + 2, "this run's store and checkpoint")
    assert(Streaming.qStreamUpsert(spark, sfDir).count() > 0L)
    assert(upsertDirs() === before + 2, "the first run's pair must be gone")
    Streaming.retireAll(spark)
    assert(upsertDirs() === before)
  }

  test("one stream reader, one memory-sink start, one tmpdir root") {
    // every lane reads through Streaming.eventStream, starts through
    // Streaming.start (from Streaming.toMemory or the upsert's
    // foreachBatch sink) and roots its paths at Sources.tmpPath
    val root = Paths.get("src/main/scala")
    def uses(token: String): Map[String, Int] =
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> java.util.regex.Pattern
          .quote(token).r.findAllMatchIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
    assert(uses("readStream") == Map("Streaming.scala" -> 1))
    assert(uses(".start()") == Map("Streaming.scala" -> 1))
    assert(uses("writeStream") == Map("Streaming.scala" -> 2))
    assert(uses("java.io.tmpdir") == Map("Sources.scala" -> 1))
    // the stream-start scope is the one place that picks the manager
    assert(uses("checkpointFileManagerClass").keySet == Set("Streaming.scala"))
  }
}
