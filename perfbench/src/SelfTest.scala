package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Checks of the harness's own arithmetic and attribution.
  * Args: <small input dir> <path to graft/Bench.scala>. Exits 1 on failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(what: String)(ok: Boolean): Unit =
    if (ok) passed += 1
    else { failures += 1; System.err.println(s"FAIL: $what") }

  def percentileRule(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples")(Stats.tail(xs).contains(90 -> 90.0))
    check("p50 of 20 samples")(Stats.tail(xs.take(20)).contains(50 -> 10.0))
    check("no tail below 11 samples")(Stats.tail(xs.take(10)).isEmpty)
    for (n <- 11 to 400) {
      val s = (1 to n).map(_.toDouble).reverse
      val Some((p, v)) = Stats.tail(s)
      check(s"$n samples: ten or more beyond p$p")(s.count(_ > v) >= 10)
      val nextRank = ((p + 1) * n + 99) / 100
      check(s"$n samples: p${p + 1} would leave fewer than ten")(n - nextRank < 10)
    }
  }

  def selfTime(): Unit = {
    check("union of overlapping intervals")(
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    check("union ignores empty intervals")(Stats.unionLength(Seq((5L, 5L))) == 0)
    check("nested intervals count once")(
      Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100)
    check("children clipped to the span")(
      Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    check("no children: self is the span")(Stats.selfTime((3L, 7L), Nil) == 4)
  }

  def attribution(spark: SparkSession, smallDir: String): Unit = {
    val eager: Harness.Builder = (s, _) =>
      s.range(0, 1000, 1, 2).toDF("x").localCheckpoint(eager = true)
    val lazyB: Harness.Builder = (s, _) =>
      s.range(0, 1000, 1, 2).toDF("x").groupBy(col("x") % 3).count()
    val h = new Harness(spark, Seq("eager" -> eager, "lazy" -> lazyB), 2)
    h.setup(smallDir, None, 0)
    val runs = h.timed(smallDir, 7, 0, trace = true)
    val traced = runs.filter(_.traced)
    def buildJobs(name: String) =
      traced.filter(_.name == name).map(q => h.recorder.sum(q.key("build"))(Field.Jobs))
    check(s"eager localCheckpoint builder runs 1 job (${buildJobs("eager")})")(
      buildJobs("eager") == Seq(1L))
    check(s"lazy builder runs no job (${buildJobs("lazy")})")(buildJobs("lazy") == Seq(0L))
    val layers = h.layers(runs).toMap
    check("ops.build_jobs = 1")(layers("ops.build_jobs") == 1.0)
    check("every job attributed")(layers("trace.unattributed_jobs") == 0.0)
    traced.foreach { q =>
      val d = h.decompose(q)
      check(s"${q.name}: no negative layer ($d)")(d.values.forall(_ >= 0))
    }
  }

  def streaming(spark: SparkSession, smallDir: String): Unit = {
    val lane = "q_stream_tumbling"
    val h = new Harness(spark, Seq(lane -> graft.SparkEntry.queries(lane)), 2)
    h.setup(smallDir, None, 0)
    val runs = h.timed(smallDir, 7, 0, trace = true)
    val q = runs.filter(_.traced).head
    val batches = h.streams.batches.toArray(Array.empty[BatchRec])
      .filter(b => b.startMs >= q.t0 && b.startMs <= q.t2)
    check("the lane ran micro-batches")(batches.nonEmpty)
    val wallMs = q.t2 - q.t0
    val trigger = batches.map(_.phasesMs.getOrElse("triggerExecution", 0L)).sum
    val phases = batches.map(b => (b.phasesMs - "triggerExecution").values.sum).sum
    check(s"trigger time $trigger ms within the lane's $wallMs ms")(trigger <= wallMs)
    check(s"phase sum $phases ms within the lane's $wallMs ms")(phases <= wallMs)
    val layers = h.layers(runs).toMap
    check("streaming.outside_batch_s is not negative")(
      layers("streaming.outside_batch_s") >= 0)
    check("micro-batches counted")(layers("streaming.micro_batches") == batches.length)
  }

  def main(args: Array[String]): Unit = {
    val Array(smallDir, benchSource) = args
    percentileRule()
    selfTime()
    val spark = Harness.session(2)
    Harness.checkParity(spark, 2, benchSource)
    attribution(spark, smallDir)
    streaming(spark, smallDir)
    spark.stop()
    System.err.println(s"selftest: $passed passed, $failures failed")
    println("PERFBENCH_DONE")
    System.out.flush()
    while (System.in.read() >= 0) {}
    sys.exit(if (failures == 0) 0 else 1)
  }
}
