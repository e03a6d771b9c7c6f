package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState,
  OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TimeMode,
  TimerValues, Trigger, TTLConfig, ValueState}

/** Arbitrary streaming state on the State API v2 (`transformWithState`,
  * SPARK-49070) — the successor to [[Streaming.sessionize]]'s
  * mapGroupsWithState: typed composite state (ValueState / MapState /
  * ListState per key instead of one monolithic case class), explicit
  * event-time timers, per-state TTL, and a RocksDB-only runtime (the
  * provider the 100 TB deployment runs anyway — changelog-checkpointed,
  * spill-free state beyond executor heap).
  *
  * The operator: FIRST-TOUCH DETECTION — for every user, the event-time
  * second at which each event_type was first seen (new-behavior /
  * first-touch attribution, the streaming primitive behind "emit a
  * row the first time a user converts"). Semantics mirror the batch
  * `MIN(sec) GROUP BY user, type`, continuously.
  *
  * Why state is load-bearing: the MapState holds the per-type minimum
  * seen so far, and a row is EMITTED only when it improves that minimum
  * — the state is the re-emission bound (per user per type, emissions =
  * 1 + #improvements, not #events). Correctness does NOT depend on
  * arrival order: emission is monotone-improving and the gate query
  * min-merges emissions downstream, so a late-but-earlier event inside
  * the watermark horizon just emits one more row that wins the MIN.
  * That same algebra is what makes TIMER EVICTION safe: a user idle
  * past [[Streaming.SessionGapSec]] has state deleted by an event-time
  * timer (state stays O(active users × types), not O(lifetime users));
  * if they return, their re-emitted first-touch can only lose the
  * downstream MIN against the rows already emitted. Exactness under
  * eviction is ARITHMETIC, not an assumption — the same deltas-not-
  * totals trick [[Streaming.updateSessions]] uses, transposed to min.
  *
  * Scale shape: one shuffle on user_id per micro-batch; per-batch work
  * per key is O(batch rows for the key); state per key is ≤ one long
  * per DISTINCT type plus one timer handle. The TTLConfig.NONE choice
  * is deliberate — TTL is processing-time-based, and this operator's
  * eviction contract is event-time (the timer); mixing the two would
  * make state lifetime wall-clock-dependent and the gate
  * non-deterministic.
  */
object StateV2 {

  final case class FirstTouch(user_id: Long, event_type: String, first_sec: Long)

  /** One initial-state row per user: the per-type minima a batch
    * backfill already computed, packed into a single row so the
    * initial-state dataset is keyed uniquely.
    */
  final case class BootState(user_id: Long, first: Map[String, Long])

  /** Per-user processor: MapState type→min-sec, ValueState of the
    * registered eviction timer (so each data batch can move it instead
    * of accumulating stale timers), event-time timer for eviction.
    * Extends the WithInitialState variant so the SAME processor serves
    * both the cold-start query and the batch-bootstrapped one — without
    * an initial-state dataset, [[handleInitialState]] is simply never
    * invoked.
    */
  final class FirstTouchProcessor
      extends StatefulProcessorWithInitialState[
        Long, (Long, String, Long), FirstTouch, BootState] {

    @transient private var firstSeen: MapState[String, Long] = _
    @transient private var timerAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      firstSeen = getHandle.getMapState[String, Long](
        "firstSeen", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timerAt", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, String, Long)],
        timers: TimerValues): Iterator[FirstTouch] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[FirstTouch]
      var maxSec = Long.MinValue
      rows.foreach { case (_, tpe, sec) =>
        if (sec > maxSec) maxSec = sec
        val better =
          !firstSeen.containsKey(tpe) || sec < firstSeen.getValue(tpe)
        if (better) {
          firstSeen.updateValue(tpe, sec)
          out += FirstTouch(uid, tpe, sec)
        }
      }
      // One live eviction timer per key: delete the previous one before
      // registering the moved target (timers are a SET per key — without
      // the delete every batch would leave one more behind, each firing
      // a spurious eviction). Target must sit strictly beyond the
      // current watermark or registration is rejected at the boundary.
      if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
      val target = math.max((maxSec + Streaming.SessionGapSec) * 1000L,
        timers.getCurrentWatermarkInMs() + 1L)
      getHandle.registerTimer(target)
      timerAt.update(target)
      out.iterator
    }

    override def handleInitialState(uid: Long, boot: BootState,
        timers: TimerValues): Unit =
      // Warm-start: seed the MapState with the backfill's minima BEFORE
      // the first data batch. Nothing is emitted here (the API returns
      // Unit by design — the backfill answer is already materialized
      // batch-side); what loading buys is the emission BOUND: a streamed
      // event at-or-above a booted minimum produces no row at all.
      boot.first.foreach { case (tpe, sec) => firstSeen.updateValue(tpe, sec) }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[FirstTouch] = {
      // Eviction: drop everything for the idle user. Nothing to emit —
      // every minimum this state ever held was emitted when it was set,
      // and the downstream MIN-merge keeps those rows authoritative if
      // the user returns and re-emits.
      firstSeen.clear()
      timerAt.clear()
      Iterator.empty
    }
  }

  /** First-touch per (user, event_type) as a streaming query: watermarked
    * feed → transformWithState (event-time mode, Update output) → exact
    * MIN-merge of the emissions. Runs under the RocksDB state store
    * provider — transformWithState refuses the HDFS-backed default, a
    * constraint (not a tuning choice) of the v2 state machinery.
    * Hash-checked against the batch `MIN(sec) GROUP BY user, type`.
    */
  def qStreamFirstTouch(spark: SparkSession, dir: String): DataFrame =
    firstTouchOver(spark, Streaming.stagedEvents(spark, dir),
      maxFilesPerTrigger = None)

  /** The first-touch pipeline over an already-staged landing zone;
    * `maxFilesPerTrigger` throttles the file source so a spec can force
    * GENUINE multi-batch execution (cross-batch MapState reads, timer
    * moves, and the min-merge reconciliation actually firing) — the
    * single-batch AvailableNow run the gate uses exercises none of
    * those paths on its own.
    */
  def firstTouchOver(spark: SparkSession, stage: String,
      maxFilesPerTrigger: Option[Int]): DataFrame =
    minMerge(rawEmissions(spark, stage, maxFilesPerTrigger, boot = None))

  /** Watermarked (user_id, event_type, sec) off the landing zone. */
  private def typedStream(spark: SparkSession, stage: String,
      maxFilesPerTrigger: Option[Int]) = {
    import spark.implicits._
    Streaming.eventStream(spark, stage, maxFilesPerTrigger)
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as[Long], col("event_type").as[String],
        expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").as[Long])
  }

  /** The operator's raw emission stream run to completion — improvements
    * only, BEFORE the min-merge (the spec asserts on these directly:
    * with boot state loaded, an emission must beat the booted minimum).
    */
  def rawEmissions(spark: SparkSession, stage: String,
      maxFilesPerTrigger: Option[Int],
      boot: Option[org.apache.spark.sql.Dataset[BootState]]): DataFrame = {
    import spark.implicits._
    val typed = typedStream(spark, stage, maxFilesPerTrigger)
    val touches = boot match {
      case Some(b) => typed.groupByKey(_._1)
        .transformWithState(new FirstTouchProcessor,
          TimeMode.EventTime(), OutputMode.Update(),
          b.groupByKey(_.user_id))
      case None => typed.groupByKey(_._1)
        .transformWithState(new FirstTouchProcessor,
          TimeMode.EventTime(), OutputMode.Update())
    }
    withRocksDb(spark) {
      Streaming.runToMemory(touches.toDF(),
        s"graft_stream_first_touch_${Streaming.runSeq.incrementAndGet()}",
        OutputMode.Update(), Streaming.adaptiveStateParts(spark, stage))
    }
  }

  private def minMerge(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("first_sec")).as("first_sec"))
      .orderBy("user_id", "event_type")

  /** The batch side of the warm start: first-touch minima over the
    * backfill slice (event_id % 3 == 0 — an ARBITRARY split, which is
    * the stronger test: either side can own any (user, type) minimum).
    */
  def bootFirstTouch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .where(col("event_id") % 3 === 0)
      .select(col("user_id"), col("event_type"),
        expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").as("first_sec"))
      .groupBy("user_id", "event_type")
      .agg(min("first_sec").as("first_sec"))

  /** [[bootFirstTouch]] packed one-row-per-user for the initial-state
    * contract (the dataset must be uniquely keyed).
    */
  def bootStates(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[BootState] = {
    import spark.implicits._
    bootFirstTouch(spark, dir)
      .groupBy(col("user_id"))
      .agg(map_from_arrays(collect_list(col("event_type")),
        collect_list(col("first_sec"))).as("first"))
      .as[BootState]
  }

  /** Stage ONLY the live slice (event_id % 3 != 0) as the landing zone
    * for the bootstrapped query; once per (dir) per JVM, through
    * `Sources.stageOnceInJvm`.
    */
  def stageLiveSlice(spark: SparkSession, dir: String): String = {
    val stage = graft.sources.Sources.stagedPath("graft_stream_live_", dir)
    graft.sources.Sources.stageOnceInJvm(s"$dir->$stage") {
      graft.Tables.events(spark, dir).where(col("event_id") % 3 =!= 0)
        .write.mode("overwrite").parquet(stage)
    }
    stage
  }

  /** Warm-started first-touch — the production migration path: a batch
    * backfill already computed first-touch up to a cutover, and the
    * streaming query CONTINUES it instead of replaying history. The
    * backfill minima load into the state store via the initial-state
    * dataset before the first micro-batch ([[FirstTouchProcessor
    * .handleInitialState]]); the live slice then streams as usual, and
    * the final answer is the min-merge of the materialized backfill
    * with the stream's emissions. Exactness is the same MIN algebra as
    * the cold-start query — which is why the two share one oracle
    * verbatim. What the boot buys at scale: the stream never re-reads
    * history (the backfill was one batch job), and booted minima
    * suppress emissions the cold start would have made.
    */
  def qStreamFirstTouchBoot(spark: SparkSession, dir: String): DataFrame = {
    val stage = stageLiveSlice(spark, dir)
    val emissions = rawEmissions(spark, stage, maxFilesPerTrigger = None,
      boot = Some(bootStates(spark, dir)))
    minMerge(bootFirstTouch(spark, dir)
      .unionByName(emissions.select("user_id", "event_type", "first_sec")))
  }

  /** Run the cold-start first-touch stream to completion against a
    * PINNED checkpoint (the gate uses throwaway checkpoints; a pinned
    * one is what the state reader below inspects — and what a real
    * deployment restarts from). Unlike the gate runners it keeps the
    * session's partition count and no-data batches, so eviction timers
    * fire in the trailing no-data batch.
    */
  def runFirstTouchCheckpointed(spark: SparkSession, stage: String,
      ckpt: String): Unit = {
    val touches = typedStream(spark, stage, maxFilesPerTrigger = None)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new FirstTouchProcessor,
        TimeMode.EventTime(), OutputMode.Update())(
        Encoders.product[FirstTouch])
    withRocksDb(spark) {
      Streaming.toMemory(touches.toDF(),
        s"graft_first_touch_ckpt_${Streaming.runSeq.incrementAndGet()}",
        OutputMode.Update(), Trigger.AvailableNow(), Some(ckpt))(
        _.awaitTermination())
    }
  }

  /** Offline state analytics — the `statestore` data source over the
    * query's own checkpoint, flattened to the operator's domain schema.
    * This is the operational debugging surface at 100 TB: live state
    * (who is ACTIVE, what minima they hold) is queryable with plain
    * DataFrame ops, no stream restart, no state dump hooks — and it
    * reads the same RocksDB snapshots the query runs on, so what it
    * shows is what the operator would see. The MapState variable
    * surfaces as one row per (grouping key, map key).
    */
  def readFirstTouchState(spark: SparkSession, ckpt: String): DataFrame =
    spark.read.format("statestore")
      .option("path", ckpt)
      .option("stateVarName", "firstSeen")
      .load()
      .select(col("key.value").as("user_id"),
        col("user_map_key.value").as("event_type"),
        col("user_map_value.value").as("first_sec"))

  /** Run `body` with the RocksDB state store provider — required by
    * transformWithState; restored after, so the rest of the gate keeps
    * the session default. Changelog checkpointing rides along: without
    * it every commit uploads a FULL RocksDB snapshot per partition —
    * O(total state) per batch, the dominant cost once state outgrows
    * the batch (at the 100× events stage the ListState sessionizer
    * buffers ~80 MB of raw event seconds across 25+ stores). With it,
    * each commit ships only the batch's delta and snapshots amortize in
    * background maintenance — the documented production setting for
    * large state.
    */
  def withRocksDb[T](spark: SparkSession)(body: => T): T =
    Streaming.withConfs(spark, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true"))(body)

  final case class SessionRec(user_id: Long, start_sec: Long, end_sec: Long,
    n_events: Long)

  /** Exact per-session RECORDS via ListState — the buffer-until-
    * finalization pattern, and the third v2 state primitive in this
    * lane (first-touch covers ValueState + MapState). Events buffer in
    * a per-user ListState until the inactivity timer proves every
    * buffered session closed (the watermark passed last-event + gap);
    * the timer handler then splits the buffer into gap-islands and
    * emits one (start, end, n_events) row PER SESSION, exactly once,
    * and drops the user's state wholesale.
    *
    * What this buys over the other two sessionization lanes: the
    * mapGroupsWithState lane ([[Streaming.updateSessions]]) keeps O(1)
    * state but can only emit per-user running deltas (no session
    * records); the `session_window` lane emits records but its state
    * and semantics are fixed by the built-in generator. This one emits
    * true per-session records under CUSTOM finalization logic — the
    * shape for session-scoped feature extraction (funnel paths, dwell
    * distributions) where the whole event list must be in hand at
    * close. The cost is honest: state is O(events inside the horizon
    * per active user) — the price of any whole-session computation —
    * bounded by the same timer eviction, appended (never rewritten)
    * per batch, which RocksDB turns into pure sequential writes.
    */
  final class SessionRecordProcessor
      extends StatefulProcessor[Long, (Long, Long), SessionRec] {

    @transient private var pending: ListState[Long] = _
    @transient private var lastSec: ValueState[Long] = _
    @transient private var timerAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[Long](
        "pending", Encoders.scalaLong, TTLConfig.NONE)
      lastSec = getHandle.getValueState[Long](
        "lastSec", Encoders.scalaLong, TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timerAt", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[SessionRec] = {
      var mx = if (lastSec.exists()) lastSec.get() else Long.MinValue
      // ONE appendList per (user, batch), not one appendValue per event:
      // each append is a store round-trip (serialize + RocksDB merge),
      // and the per-event form made it the whole lane's bottleneck at
      // the 100× events stage (~10 M calls; 51 s warm, unmoved by state
      // partitioning). The buffered-until-finalization semantics are
      // identical — the list contents don't change, only the call count,
      // O(active users × batches) instead of O(events).
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.foreach { case (_, sec) =>
        buf += sec
        if (sec > mx) mx = sec
      }
      if (buf.nonEmpty) pending.appendList(buf.toArray)
      lastSec.update(mx)
      if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
      val target = math.max((mx + Streaming.SessionGapSec) * 1000L,
        timers.getCurrentWatermarkInMs() + 1L)
      getHandle.registerTimer(target)
      timerAt.update(target)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionRec] = {
      // The watermark passed lastSec + gap, so every buffered event's
      // session is closed: sort, split into gap-islands, emit each once.
      // end = last event + gap mirrors session_window's window end, so
      // this lane shares the batch gaps-and-islands oracle verbatim.
      val secs = pending.get().toArray
      pending.clear(); lastSec.clear(); timerAt.clear()
      java.util.Arrays.sort(secs)
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionRec]
      var i = 0
      while (i < secs.length) {
        var j = i
        while (j + 1 < secs.length &&
          secs(j + 1) - secs(j) <= Streaming.SessionGapSec) j += 1
        out += SessionRec(uid, secs(i),
          secs(j) + Streaming.SessionGapSec, j - i + 1L)
        i = j + 1
      }
      out.iterator
    }
  }

  /** The ListState session pipeline over any sentinel-staged landing
    * zone: runs to completion with the sentinel flush and returns the
    * raw (user_id, start_sec, end_sec, n_events) records, sentinels
    * included — callers filter/project.
    */
  private[graft] def sessionRecordsOver(spark: SparkSession,
    stage: String): DataFrame = {
    import spark.implicits._
    val typed = Streaming.eventStream(spark, stage)
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as[Long],
        expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").as[Long])
    val recs = typed.groupByKey(_._1)
      .transformWithState(new SessionRecordProcessor,
        TimeMode.EventTime(), OutputMode.Update())
    withRocksDb(spark) {
      Streaming.runWithSentinelFlush(spark, stage, recs.toDF(),
        s"graft_stream_sess_v2_${Streaming.runSeq.incrementAndGet()}",
        OutputMode.Update())
    }
  }

  /** Streaming session records as a gate query: sentinel-staged zone →
    * ListState buffering → timer-driven finalization → the exact batch
    * `session_window` answer (oracle shared verbatim). The sentinel
    * machinery is [[Streaming.runWithSentinelFlush]]'s: the trailing
    * no-data batch after the sentinel's watermark advance fires the
    * eviction timers; sentinel-user rows drop from the projection.
    */
  def qStreamSessionsV2(spark: SparkSession, dir: String): DataFrame =
    sessionRecordsOver(spark, Streaming.sentinelStage(spark, dir))
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(timestamp_seconds(col("start_sec")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_seconds(col("end_sec")),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  private val firstTouchSql =
    """SELECT user_id, event_type,
      |  MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS first_sec
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_stream_first_touch" -> firstTouchSql,
    // warm start must land on the identical answer — share the oracle
    // verbatim, so any boot/stream split error hash-fails
    "q_stream_first_touch_boot" -> firstTouchSql,
    // ListState finalization must reproduce the batch session_window
    // answer exactly — third sessionization lane on the same oracle
    "q_stream_sessions_v2" ->
      graft.ops.Relational7.oracles("q_session_window"),
  )
}
