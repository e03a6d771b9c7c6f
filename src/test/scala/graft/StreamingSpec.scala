package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streaming

/** Structured Streaming twins reconcile with their batch formulations
  * when run to completion (Trigger.AvailableNow) over the same files.
  */
class StreamingSpec extends SparkTestBase {

  private lazy val stageDir = {
    val d = Files.createTempDirectory("graft-stream").toString
    Streaming.stageStreamInput(spark, sfDir, d)
    d
  }

  test("streaming hourly windowed counts == batch groupBy") {
    val got = Streaming.runToMemory(
      Streaming.hourlyCounts(spark, stageDir), "hourly", OutputMode.Complete())
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap

    val want = graft.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap

    assert(got == want)
  }

  test("stream-static join enriches the stream with a batch dimension") {
    val static = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = spark.readStream.schema(Streaming.eventSchema)
      .parquet(stageDir)
      .join(static, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val got = Streaming.runToMemory(enriched, "enriched",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val want = graft.Tables.events(spark, sfDir)
      .join(static, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("streaming sessionization (mapGroupsWithState) == batch sessions") {
    import spark.implicits._
    val updates = Streaming.runToMemory(
      Streaming.sessionize(spark, stageDir).toDF(),
      "sessions", OutputMode.Update())
    // emissions are per-invocation deltas; their sum is the lifetime total
    val got = updates.groupBy("user_id")
      .agg(sum("n_sessions").as("s"), sum("n_events").as("e"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val want = graft.ops.Events.qEventSessions(spark, sfDir)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    assert(got == want)
  }

  test("streaming dedup collapses an at-least-once feed to the base table") {
    val got = Streaming.qStreamDedup(spark, sfDir)
    val base = graft.Tables.events(spark, sfDir)
    assert(got.count() == base.count(),
      "doubled feed must dedup back to exactly the base table")
    assert(got.select("event_id").distinct().count() == base.count())
  }

  test("streaming upsert == batch latest-wins, across real micro-batches") {
    import org.apache.spark.sql.functions._
    val got = Streaming.qStreamUpsert(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    // batch twin: per user, count + fields of the (ts, event_id)-max event
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val want = graft.Tables.events(spark, sfDir)
      .withColumn("n_events", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("event_type"), col("value"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    assert(got == want)
    // and the run really merged more than one micro-batch: the staged
    // input is 4 files at maxFilesPerTrigger=1, so versions >= 2 exist
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val stores = tmp.listFiles()
      .filter(_.getName.startsWith("graft_stream_upsert_"))
    assert(stores.exists(_.listFiles().count(_.getName.startsWith("v")) >= 2),
      "expected a versioned store with >= 2 merge rounds")
  }

  test("RocksDB state store provider: gate queries byte-identical to default") {
    // The 100 TB streaming deployment runs the RocksDB provider (join /
    // session state outgrows the in-memory HDFS-backed store). Re-run
    // two gate queries — the stream-stream join (two buffered sides)
    // and the mapGroupsWithState session window (custom state class) —
    // under the provider and require the exact default-provider rows,
    // i.e. the same rows the DuckDB oracle hash-checks.
    val key = "spark.sql.streaming.stateStore.providerClass"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val defJoin = rows(Streaming.qStreamJoin(spark, sfDir))
    val defSess = rows(Streaming.qStreamSessionWindow(spark, sfDir))
    assert(defJoin.nonEmpty && defSess.nonEmpty)
    Streaming.withConfs(spark, Seq(key -> ("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider"))) {
      assert(rows(Streaming.qStreamJoin(spark, sfDir)) == defJoin,
        "stream-stream join result changed under RocksDB")
      assert(rows(Streaming.qStreamSessionWindow(spark, sfDir)) == defSess,
        "session-window result changed under RocksDB")
    }
  }

  test("checkpoint resume processes only newly arrived files") {
    import org.apache.spark.sql.functions._
    // landing zone with half the events; fixed checkpoint dir
    val events = graft.Tables.events(spark, sfDir)
    val half = events.filter(col("event_id") % 2 === 0)
    val rest = events.filter(col("event_id") % 2 =!= 0)
    val land = java.nio.file.Files
      .createTempDirectory("graft-ckpt-land").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-state").toString
    half.write.mode("append").parquet(land)
    val processed = new java.util.concurrent.atomic.AtomicLong(0)
    def runOnce(): Long = {
      processed.set(0)
      val q = Streaming.start(spark,
        spark.readStream.schema(Streaming.eventSchema).parquet(land)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            processed.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        Some(ckpt))
      q.awaitTermination()
      processed.get()
    }
    assert(runOnce() == half.count(), "first run sees the staged half")
    assert(runOnce() == 0L, "an unchanged zone must replay NOTHING")
    rest.write.mode("append").parquet(land)
    assert(runOnce() == rest.count(),
      "resume must process exactly the newly arrived files")
  }

  test("upsert killed mid-stream resumes from checkpoint exactly-once") {
    import org.apache.spark.sql.functions._
    // own landing zone (4 files -> 4 micro-batches), checkpoint, store
    val stage = java.nio.file.Files
      .createTempDirectory("graft-crash-stage").toString
    graft.Tables.events(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(stage)
    val target = java.nio.file.Files
      .createTempDirectory("graft-crash-store").toString + "/store"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-crash-ckpt").toString
    val attempts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val bomb = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(): Long = {
      var lastBatch = -1L
      val q = Streaming.start(spark,
        spark.readStream.schema(Streaming.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            attempts.add(id)
            Streaming.upsertMergeBatch(spark, b, target, id)
            lastBatch = math.max(lastBatch, id)
            // crash AFTER the sink write but BEFORE Spark commits the
            // batch — the worst-case failure point: the work is done but
            // unacknowledged, so resume MUST redeliver this batch and the
            // sink must absorb the duplicate
            if (id == 2L && bomb.getAndSet(false)) sys.error("injected crash")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        Some(ckpt))
      try q.awaitTermination()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      } finally if (q.isActive) q.stop()
      lastBatch
    }
    run() // dies inside batch 2
    assert(attempts.asScala.toList == List(0L, 1L, 2L),
      "first run must process batches 0..2 then crash")
    attempts.clear()
    val last = run() // resume from the checkpoint
    // source-side exactly-once: committed batches 0 and 1 are never
    // redelivered; uncommitted batch 2 is (same id, same WAL-pinned
    // file set) and the batchId-keyed overwrite makes the redo a no-op
    assert(attempts.asScala.toList == List(2L, 3L),
      s"resume must replay exactly the uncommitted tail, got $attempts")
    assert(last == 3L)
    // the resumed store reconciles with the batch latest-wins answer
    val got = Streaming.readUpsertStore(spark, target, last).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val want = graft.Tables.events(spark, sfDir)
      .withColumn("n_events", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("event_type"), col("value"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    assert(got == want,
      "post-crash store must equal the batch latest-wins oracle")
  }

  test("a checkpoint committed by rename holds the same files and rows as Spark's default") {
    // a stateful query over a 4-file zone, one file per micro-batch: once
    // through Streaming.start (the rename-committing manager on this local
    // root), once started directly (Spark's default manager)
    val stage = Files.createTempDirectory("graft-ckpt-parity").toString
    graft.Tables.events(spark, sfDir).repartition(4)
      .write.mode("overwrite").parquet(stage)
    def run(name: String, viaEngine: Boolean): (Set[String], Set[String]) = {
      val ckpt = Files.createTempDirectory(s"graft-ckpt-$name").toString
      val writer = spark.readStream.schema(Streaming.eventSchema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val q =
        if (viaEngine) Streaming.start(spark, writer, Some(ckpt))
        else writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      val root = java.nio.file.Paths.get(ckpt)
      val files = Files.walk(root).iterator().asScala
        .filter(Files.isRegularFile(_)).map(root.relativize(_).toString).toSet
      val rows = spark.table(name).collect().map(_.toString).toSet
      spark.catalog.dropTempView(name)
      (files, rows)
    }
    val (renamed, renamedRows) = run("graft_ckpt_parity_engine", viaEngine = true)
    val (default, defaultRows) = run("graft_ckpt_parity_default", viaEngine = false)
    assert(renamed === default)
    // logs, state deltas, Spark's state checksums (`4.delta.crc`) and
    // Hadoop's checksum sidecars (`.4.delta.crc`, `.3.crc`)
    Seq("offsets/3", "offsets/.3.crc", "commits/3", "metadata", "sources/0/3",
      "state/0/0/4.delta", "state/0/0/4.delta.crc", "state/0/0/.4.delta.crc")
      .foreach { f =>
        assert(renamed.contains(f), s"$f missing from ${renamed.toSeq.sorted}")
      }
    assert(renamedRows === defaultRows)
    assert(renamedRows.nonEmpty)
  }

  test("stream-stream left outer join == batch left join, repeatable") {
    def batchAnswer = {
      val ev = graft.Tables.events(spark, sfDir)
        .withColumn("sec", unix_timestamp(col("ts")))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id"),
          col("sec").as("v_sec"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("sec").as("p_sec"))
      v.join(p, col("user_id") === col("p_user") &&
          col("p_sec").between(col("v_sec") - 3600, col("v_sec")),
          "left_outer")
        .select(col("v_id"), col("p_id"), col("user_id"))
    }
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
    val want = asSet(batchAnswer)
    assert(want.exists(_._2 == -1L), "fixture must contain unmatched views")
    // twice: the second run replays the same memoized landing zone
    val first = asSet(Streaming.qStreamLeftJoin(spark, sfDir))
    assert(first == want)
    val second = asSet(Streaming.qStreamLeftJoin(spark, sfDir))
    assert(second == want)
  }

  test("sentinel-flushed runs leave the memoized landing zone as staged") {
    // a zone that gained a file would feed every later run one more file
    // than a fresh JVM's
    val zone = Streaming.sentinelStage(spark, sfDir)
    def files() = new java.io.File(zone).list().toSet
    def rows() = Streaming.qStreamLeftJoin(spark, sfDir).collect().toSeq
    val staged = files()
    val first = rows()
    assert(files() == staged, "first run left files behind in the zone")
    val second = rows()
    assert(files() == staged, "second run left files behind in the zone")
    assert(first.nonEmpty && second == first)
  }

  test("session state folds incrementally across micro-batches") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import Streaming.{updateSessions, SessionState}
    // one shot: gap between 100 and 2000+100 > 1800 → 2 sessions
    val all = Seq(0L, 100L, 2100L, 2200L)
    val oneShot = {
      val st = TestGroupState.create[SessionState](Optional.empty(),
        GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
      updateSessions(7L, all.map(7L -> _).iterator, st)
    }
    // same events split across two batches: emissions are DELTAS, so the
    // one-shot delta must equal the SUM of the split deltas (this is the
    // contract that makes the downstream SUM reduce batching-invariant)
    val st = TestGroupState.create[SessionState](Optional.empty(),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
    val first = updateSessions(7L, all.take(2).map(7L -> _).iterator, st)
    val second = updateSessions(7L,
      all.drop(2).map(7L -> _).iterator, st)
    assert(oneShot.n_sessions == first.n_sessions + second.n_sessions)
    assert(oneShot.n_events == first.n_events + second.n_events)
    assert(oneShot.n_sessions == 2L && oneShot.n_events == 4L)
    assert(first == Streaming.UserSessions(7L, 1L, 2L))
    assert(second == Streaming.UserSessions(7L, 1L, 2L))
    // eviction boundary registered: lastSec + gap
    assert(st.getTimeoutTimestampMs.get ==
      (2200L + Streaming.SessionGapSec) * 1000L)
  }

  test("state for quiet users times out: final emission, then removal") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import Streaming.{updateSessions, SessionState}
    val st = TestGroupState.create[SessionState](
      Optional.of(SessionState(2200L, 2L, 4L)),
      GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of((2200L + Streaming.SessionGapSec) * 1000L + 1L), true)
    val fin = updateSessions(7L, Iterator.empty, st)
    // the timeout emission is the EMPTY delta — the data invocations
    // already emitted every count, so a returning user's restarted
    // counters cannot lose history under the SUM reduce
    assert(fin == Streaming.UserSessions(7L, 0L, 0L))
    assert(st.isRemoved, "quiet user's state must be evicted")
  }

  test("deltas sum to lifetime totals across an eviction + comeback") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import Streaming.{updateSessions, SessionState}
    // life of user 7: two sessions, eviction, then a comeback session —
    // the scenario where a running-total emission (max_by reduce) loses
    // the pre-eviction counts and the delta SUM must not
    def fresh() = TestGroupState.create[SessionState](Optional.empty(),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
    val st1 = fresh()
    val d1 = updateSessions(7L, Seq(0L, 100L, 5000L).map(7L -> _).iterator, st1)
    val timedOut = TestGroupState.create[SessionState](
      Optional.of(SessionState(5000L, 2L, 3L)),
      GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of((5000L + Streaming.SessionGapSec) * 1000L + 1L), true)
    val d2 = updateSessions(7L, Iterator.empty, timedOut)
    assert(timedOut.isRemoved)
    val st2 = fresh() // comeback: state restarts at zero
    val d3 = updateSessions(7L, Seq(900000L, 900060L).map(7L -> _).iterator, st2)
    val sums = Seq(d1, d2, d3)
    assert(sums.map(_.n_sessions).sum == 3L, "2 sessions + comeback session")
    assert(sums.map(_.n_events).sum == 5L)
  }
}
