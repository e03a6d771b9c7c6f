package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

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
  * every key it sets, and the stream reader, memory-sink start and
  * temp-dir root each live in one place.
  */
class StreamingLifecycleSpec extends SparkTestBase {

  private def runCounts(name: String): org.apache.spark.sql.DataFrame = {
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

  test("one stream reader, one memory-sink start, one tmpdir root") {
    // every lane reads through Streaming.eventStream, starts through
    // Streaming.toMemory (or the upsert's foreachBatch sink) and roots
    // its paths at Sources.tmpPath
    val root = Paths.get("src/main/scala")
    def uses(token: String): Map[String, Int] =
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> java.util.regex.Pattern
          .quote(token).r.findAllMatchIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
    assert(uses("readStream") == Map("Streaming.scala" -> 1))
    assert(uses("writeStream") == Map("Streaming.scala" -> 2))
    assert(uses("java.io.tmpdir") == Map("Sources.scala" -> 1))
  }
}
