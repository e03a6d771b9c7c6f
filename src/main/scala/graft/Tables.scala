package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are read straight from parquet so Catalyst sees a proper
  * file-source relation: column pruning and filter pushdown reach the
  * scan (`PushedFilters` in explain), and `spark.sql.files.maxPartitionBytes`
  * governs split planning at scale — no manual file listing (the reference
  * listed + round-robined files itself: manager/__main__.py:193-202; Spark
  * owns that concern here).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalyst `InferFiltersFromGenerate` turns every `explode(computed
    * array)` into an inferred `size(arr) > 0 AND isnotnull(arr)` filter
    * that gets pushed below exchanges to the scan stage — where the whole
    * array-building lambda (with its inputs re-inlined per element) is
    * re-evaluated per row on the scan's parallelism. Measured on the
    * shingle pipeline at sf0.1: 9.3 s → 0.4 s for the same explode+count
    * with the rule excluded. The inferred filter can never prune I/O for
    * a computed array (it's not a scan column), so excluding it is pure
    * win here. Runtime-settable, so it's applied defensively on every
    * table load — any session (incl. foreign ones) gets the fix.
    */
  private def tune(spark: SparkSession): Unit = {
    val rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try {
      val cur = spark.conf.getOption("spark.sql.optimizer.excludedRules")
        .getOrElse("")
      if (!cur.contains(rule))
        spark.conf.set("spark.sql.optimizer.excludedRules",
          if (cur.isEmpty) rule else s"$cur,$rule")
    } catch { case NonFatal(_) => }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    graft.sources.Sources.readParquet(spark, s"$dir/$name.parquet")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects; sessions set spark.sql.legacy.parquet.nanosAsLong=true so it
    * arrives as epoch-nanos LongType, converted here to a proper
    * microsecond TimestampType column (matching DuckDB's ns→us cast).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    // defensive: make the read work even on sessions that didn't set the
    // legacy conf at build time (it is a runtime-settable SQL conf)
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case NonFatal(_) => }
    val raw = load(spark, dir, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Spread a scan across the session's cores when the file layout
    * under-splits it. The test tables are single-row-group parquet (one
    * split), so every narrow stage downstream of the scan — tokenize,
    * shingle, hash — would otherwise run on ONE task regardless of
    * core count. Guarded: at cluster scale inputs arrive in many splits
    * and this is a no-op. Costs one exchange of the raw rows, which pays
    * off exactly when per-row CPU dominates row width (the dedup/text/
    * similarity pipelines); scan-dominated relational queries skip it.
    *
    * The exchange hash-partitions on the row `keys`, the way the
    * reference's map side partitions once by the key its reducer groups
    * on. What the key buys:
    *  - an aggregate or window keyed on it (or on a superset of it) that
    *    sits on the spread — the per-doc `groupBy(doc_id)` of the
    *    minhash/simhash signatures, the fingerprints'
    *    `Window.partitionBy(doc_id)` — finds its `ClusteredDistribution`
    *    already satisfied and plans no second exchange; a pipeline whose
    *    first shuffle is on another key gains nothing from it (TF-IDF
    *    shuffles its tf rows by term, so it reads the table unspread);
    *  - no keys means round-robin, and Spark sorts every raw row in each
    *    map task before dealing it out
    *    (`spark.sql.execution.sortBeforeRepartition`) so a retried task
    *    deals the same rows to the same partitions; a hash exchange is
    *    deterministic without that sort.
    * The table keys are unique per row, so the partitions stay even.
    * Round-robin is only for a pipeline whose key-grouped aggregate has
    * two readers: with its exchange gone, each reader recomputes it from
    * the spread (see `Search.lexicalDocs`).
    */
  def spread(spark: SparkSession, df: DataFrame, keys: String*): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target)
      df.repartition(target, keys.map(df(_)): _*)
    else df
  }

  /** [[documents]] spread by `doc_id` for CPU-heavy per-doc pipelines. */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(spark, documents(spark, dir), "doc_id")

  /** [[embeddings]] spread by `vec_id` for per-vector scoring pipelines. */
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(spark, embeddings(spark, dir), "vec_id")
}
