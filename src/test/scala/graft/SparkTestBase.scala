package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  def resourcePath(p: String): String =
    new java.io.File(getClass.getResource(p).toURI).getPath

  /** Number of Spark jobs `body` starts: jobs are tagged through a
    * local property (inherited by the SQL execution threads a query
    * spawns), and the count is read once a marker job submitted after
    * `body` has reached the listener, so every earlier job has too.
    */
  def jobsRunBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = SparkTestBase.jobTags
    val tag = s"jobs-${SparkTestBase.tagSeq.incrementAndGet()}"
    def tagged(t: String)(f: => Any): Unit = {
      sc.setLocalProperty(SparkTestBase.TagKey, t)
      try f finally sc.setLocalProperty(SparkTestBase.TagKey, null)
    }
    tagged(tag)(body)
    tagged(s"$tag-end")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!jobs.containsKey(s"$tag-end") && System.nanoTime() < deadline)
      Thread.sleep(2)
    assert(jobs.containsKey(s"$tag-end"), "listener bus did not drain in 60 s")
    Option(jobs.get(tag)).map(_.get).getOrElse(0)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.maxMetadataStringLength", "2000")
      // Spark's default generated-code cache (100 entries in four LRU
      // segments of 25) lets one query's ~60 classes overflow a segment,
      // which then recompiles on every run; StreamingLifecycleSpec's
      // re-run check needs each lane's classes to stay cached
      .config("spark.sql.codegen.cache.maxEntries", "400")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val TagKey = "graft.test.jobTag"
  private val tagSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Jobs started per [[TagKey]] value, fed by one listener on the
    * shared session. */
  private lazy val jobTags = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    session.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
            .foreach(t => counts.computeIfAbsent(t,
              _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet())
      })
    counts
  }
}
