package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** One way to build a production session: every main takes
  * [[Bench.session]], so Bench, Verify and the tools run one optimizer.
  * `ForeignSessionSmoke` is the deliberate exception — it checks the
  * loaders on a session built without the graft confs.
  */
class SessionSpec extends SparkTestBase {

  test("SparkSession.builder appears only in Bench and ForeignSessionSmoke") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSeq.sorted
    assert(builders == Seq("Bench.scala", "ForeignSessionSmoke.scala"))
  }

  test("the shared test session's optimizer runs CollapseRedundantRound") {
    val rules = spark.asInstanceOf[ClassicSession].sessionState.optimizer
      .batches.flatMap(_.rules)
    assert(rules.exists(_ eq graft.plans.CollapseRedundantRound))
  }
}
