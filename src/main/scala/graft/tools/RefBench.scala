package graft.tools

/** Head-to-head throughput on the reference's OWN corpora (read-only at
  * /root/reference): word count and grep over the 8-file integration
  * corpus (~32 KB) and word count over the 4-file large corpus
  * (~3.7 MB) — the workloads behind the reference's timing budgets
  * (map stage < 10 s on the large corpus with one worker:
  * tests/test_worker_11.py:150; end-to-end word count polled up to
  * 30–60 s: tests/utils/__init__.py:28-33). Prints wall times for the
  * equivalent Spark-native pipelines, full shuffle + aggregation
  * included (i.e. our number covers the reference's map+sort+merge+
  * reduce, not just its map stage).
  *
  * Usage: runMain graft.tools.RefBench
  */
object RefBench {
  def main(args: Array[String]): Unit = {
    val refData = args.headOption.getOrElse("/root/reference/tests/testdata")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")

    def time(tag: String, budget: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[ref-bench] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($n rows; reference budget $budget)")
    }

    val small = spark.read.textFile(s"$refData/input").toDF("value")
    val large = spark.read.textFile(s"$refData/input_large").toDF("value")
    // warm the codegen paths once on the tiny corpus
    graft.ops.Core.wordCountTrLines(small).count()

    time("word count, 32 KB corpus", "10-30 s e2e")(
      graft.ops.Core.wordCountTrLines(small).count())
    time("grep 'product', 32 KB corpus", "10-30 s e2e")(
      small.filter(org.apache.spark.sql.functions.lower(
        org.apache.spark.sql.functions.col("value")).contains("product"))
        .orderBy("value").count())
    time("word count, 3.7 MB corpus", "<10 s map stage alone")(
      graft.ops.Core.wordCountTrLines(large).count())
    spark.stop()
  }
}
