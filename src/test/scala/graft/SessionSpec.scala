package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** One way to build a production session: every main takes
  * [[Bench.session]], so Bench, Verify and the tools run one optimizer.
  * `ForeignSessionSmoke` is the deliberate exception — it checks the
  * loaders on a session built without the graft confs. Also checks that
  * the engine registers no session artifacts, which the stream-start
  * scope (`Streaming.startConfs`) relies on, that the extensions inject
  * the one native-function table, and that every `src/main` def is used.
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

  test("the extensions register every native function of the one table") {
    val table = graft.functions.GraftFunctions.table.map(_._1)
    assert(table.map(_.funcName).sorted == Seq("bloom_filter_agg",
      "cosine_sim", "ivf_nearest", "might_contain", "term_counts"))
    // a fresh session of the same context builds its registry from the
    // extensions alone: suites that call `ensureRegistered` on the
    // shared session cannot fill it in
    val fresh = spark.newSession().asInstanceOf[ClassicSession]
    for (s <- Seq(spark.asInstanceOf[ClassicSession], fresh)) {
      val missing = table.filterNot(s.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty, s"not registered: $missing")
    }
  }

  /** A heuristic: a def counts as used when its name appears as an
    * identifier anywhere in the scanned sources off its own line. It
    * misses an unused def whose name another identifier shares (an
    * overload, a same-named val), and it lists a def reached only by
    * reflection.
    */
  test("every src/main def has a reference outside its own line") {
    val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
    val defName = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val overrides = """\boverride\b""".r
    val lines = Seq("src/main/scala", "src/test/scala", "perfbench/src")
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).split("\n", -1).toSeq)
    val uses = lines.flatMap(_._2).flatMap(ident.findAllIn)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val unused = for {
      (p, ls) <- lines if p.startsWith("src/main/scala")
      (l, i) <- ls.zipWithIndex
      m <- defName.findAllMatchIn(l)
      name = m.group(1)
      if name != "main" && overrides.findFirstIn(l.take(m.start)).isEmpty
      if uses(name) == ident.findAllIn(l).count(_ == name)
    } yield s"$p:${i + 1} $name"
    assert(unused.isEmpty, s"defs with no reference: ${unused.mkString(", ")}")
  }
}
