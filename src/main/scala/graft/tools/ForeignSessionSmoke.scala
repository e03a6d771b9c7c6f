package graft.tools

import org.apache.spark.sql.SparkSession

/** Robustness smoke: exercise the table loaders on a session built WITHOUT
  * the graft-specific confs (the "foreign harness" scenario) — the
  * nanosecond events.ts read must self-heal via the runtime conf set in
  * Tables.events.
  */
object ForeignSessionSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate() // deliberately no nanosAsLong / timezone / partitions
    spark.sparkContext.setLogLevel("ERROR")
    val ev = graft.Tables.events(spark, sfDir)
    println(s"[foreign-smoke] ts type: ${ev.schema("ts").dataType.simpleString}")
    println(s"[foreign-smoke] rows with valid ts: ${ev.filter("ts IS NOT NULL").count()}")
    println(s"[foreign-smoke] entry rows: ${graft.SparkEntry.entry(spark).count()}")
    // pieces needing per-session registration: the native cosine and
    // term-count expressions (ensureRegistered) and the custom as-of
    // plan node (experimentalMethods rule) — all must self-install here.
    println(s"[foreign-smoke] cosine top-k rows: ${graft.ops.Sim.qSimTopKNative(spark, sfDir).count()}")
    println(s"[foreign-smoke] tf-idf rows: ${graft.ops.Text.qTfidfTop(spark, sfDir).count()}")
    println(s"[foreign-smoke] as-of plan rows: ${graft.ops.Events.qEventAsofPlan(spark, sfDir).count()}")
    spark.stop()
  }
}
