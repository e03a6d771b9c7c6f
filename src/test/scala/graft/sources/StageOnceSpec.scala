package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streaming

/** Pins [[Sources.stageOnceInJvm]]'s memo contract (the r12 ADVICE fix
  * that moved the multi-minute layout write out of the staging map's
  * `computeIfAbsent` bin lock): one staging per key under concurrency,
  * siblings observe completion, and — the path no other spec covered —
  * a FAILED staging is forgotten, so the next caller retries instead of
  * inheriting a poisoned memo (matching `computeIfAbsent`'s
  * exception-not-recorded semantics). The streaming landing zones
  * stage through the same memo, so a zone whose write failed is
  * staged again rather than read half-written.
  */
class StageOnceSpec extends graft.SparkTestBase {

  test("concurrent callers for one key run the staging exactly once") {
    val runs = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 8).map { _ =>
      Future {
        Sources.stageOnceInJvm("stage-once-spec-k1") {
          runs.incrementAndGet()
          Thread.sleep(200) // widen the race window
        }
        done.incrementAndGet()
      }
    }
    Await.result(Future.sequence(fs), 30.seconds)
    assert(runs.get() === 1, "staging body must run exactly once per key")
    assert(done.get() === 8, "every caller must return after completion")
  }

  test("a failed staging is retried by the next caller") {
    val attempts = new AtomicInteger(0)
    val boom = intercept[RuntimeException] {
      Sources.stageOnceInJvm("stage-once-spec-k2") {
        attempts.incrementAndGet()
        throw new RuntimeException("staging failed")
      }
    }
    assert(boom.getMessage === "staging failed")
    // the failure must not be memoized: the next caller re-runs the body
    Sources.stageOnceInJvm("stage-once-spec-k2") {
      attempts.incrementAndGet()
    }
    assert(attempts.get() === 2, "failed staging must be forgotten and retried")
    // and a completed staging IS memoized: a third call never re-runs
    Sources.stageOnceInJvm("stage-once-spec-k2") {
      attempts.incrementAndGet()
    }
    assert(attempts.get() === 2, "completed staging must be memoized")
  }

  // r13 ADVICE fix: waiters CONCURRENT with a failing staging must also
  // retry (loop back through putIfAbsent), not fail-fast with a wrapped
  // CompletionException — the semantics computeIfAbsent waiters had.
  test("waiters concurrent with a failed staging retry until one succeeds") {
    val attempts = new AtomicInteger(0)
    val succeeded = new AtomicInteger(0)
    val firstEntered = new java.util.concurrent.CountDownLatch(1)
    val waitersQueued = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val owner = Future {
      intercept[RuntimeException] {
        Sources.stageOnceInJvm("stage-once-spec-k3") {
          attempts.incrementAndGet()
          firstEntered.countDown()
          // hold the failure until the waiters are parked on our future
          waitersQueued.await(10, java.util.concurrent.TimeUnit.SECONDS)
          throw new RuntimeException("owner failed")
        }
      }
    }
    firstEntered.await(10, java.util.concurrent.TimeUnit.SECONDS)
    val waiters = (1 to 4).map { _ =>
      Future {
        Sources.stageOnceInJvm("stage-once-spec-k3") {
          attempts.incrementAndGet()
        }
        succeeded.incrementAndGet()
      }
    }
    Thread.sleep(300) // let the waiters reach prior.join()
    waitersQueued.countDown()
    Await.result(Future.sequence(waiters :+ owner.map(_ => ())), 30.seconds)
    assert(succeeded.get() === 4,
      "every waiter must eventually return from a successful staging")
    assert(attempts.get() === 2,
      "exactly one retry owner re-runs the body after the failure")
  }

  test("a stream zone whose first staging write throws is staged on the next call") {
    val base = java.nio.file.Files.createTempDirectory("graft-stage-once")
    // a regular file where the zone's parent directory must go makes
    // the first write fail
    val blocker = java.nio.file.Files.createFile(base.resolve("zones"))
    val zone = blocker.resolve("events").toString
    intercept[Exception](Streaming.stageStreamInput(spark, sfDir, zone))
    java.nio.file.Files.delete(blocker)
    Streaming.stageStreamInput(spark, sfDir, zone)
    assert(new java.io.File(zone, "_SUCCESS").exists, "zone was not restaged")

    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        r.getLong(2)).toMap
    val got = byKey(Streaming.runToMemory(Streaming.hourlyCounts(spark, zone),
      "stage_once_hourly", OutputMode.Complete()))
    val want = byKey(graft.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")), col("event_type"))
      .agg(count(lit(1))))
    assert(got.nonEmpty && got == want)
  }
}
