package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** One way to build a production session: every main takes
  * [[Bench.session]], so Bench, Verify and the tools run one optimizer.
  * `ForeignSessionSmoke` is the deliberate exception — it checks the
  * loaders on a session built without the graft confs. Also checks that
  * the engine registers no session artifacts, which the stream-start
  * scope (`Streaming.startConfs`) relies on.
  */
class SessionSpec extends SparkTestBase {

  test("SparkSession.builder appears only in Bench and ForeignSessionSmoke") {
    val root = Paths.get("src/main/scala")
    def filesWith(pattern: String) = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(pattern))
      .map(_.getFileName.toString).toSeq.sorted
    assert(filesWith("SparkSession.builder") ==
      Seq("Bench.scala", "ForeignSessionSmoke.scala"))
    // a child session is a second way to build one
    assert(filesWith("newSession(").isEmpty)
  }

  test("src/main registers no session artifacts") {
    // a call here means `Streaming.startConfs` must be revisited
    val call = """\b(addArtifacts?|addJar|addFile)\s*\(""".r
    val root = Paths.get("src/main/scala")
    val callers = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => call.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSeq.sorted
    assert(callers.isEmpty, s"session artifacts registered in $callers")
  }

  test("the shared test session's optimizer runs CollapseRedundantRound") {
    val rules = spark.asInstanceOf[ClassicSession].sessionState.optimizer
      .batches.flatMap(_.rules)
    assert(rules.exists(_ eq graft.plans.CollapseRedundantRound))
  }
}
