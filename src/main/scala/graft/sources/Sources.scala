package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources & sinks. The reference supports exactly one of each — a text
  * directory in (manager/__main__.py:193) and `part-*` text files out
  * (worker/__main__.py:213-216) — reproduced here, plus the formats any
  * real deployment needs (parquet/csv/json, compression, partitioned
  * layout). Spark owns listing/splitting: `maxPartitionBytes` splits big
  * files, small files coalesce into shared tasks — strictly better than
  * the reference's whole-file round-robin at 100 TB.
  */
object Sources {

  /** Reference sink parity: `key\tvalue` lines, hash-partitioned by key
    * into R files, sorted within each partition, overwrite semantics —
    * the observable output contract of the reference's reduce stage
    * (sorted `part-{r:05d}` files, dir recreated per job).
    *
    * `md5Placement = false` (default) lets Spark's murmur3 exchange pick
    * the file per key — per-key contents identical, file ASSIGNMENT
    * engine-specific. `true` reproduces the reference's exact placement
    * (full-128-bit `int(md5(key), 16) % R`, worker/__main__.py:143-149,
    * computed exactly by [[graft.ops.Core.md5Partition]]'s Horner fold)
    * by routing each line through an identity partitioner on the
    * precomputed partition id: a consumer that pins which `part-*` file a
    * key lands in gets the reference's layout byte-for-byte. Lines are
    * sorted by UTF-8 BYTE order — identical to code-point order, i.e.
    * both the C-locale `sort` the reference shells out to and Spark's
    * UTF8String binary ordering in the default branch (Java's natural
    * String order would diverge on supplementary-plane characters: it
    * compares UTF-16 code units). Costs the same single shuffle; the
    * per-file sort runs partition-local.
    */
  def writeKvText(df: DataFrame, keyCol: String, valCol: String,
    outDir: String, numPartitions: Int, md5Placement: Boolean = false): Unit = {
    if (!md5Placement) {
      df.select(concat_ws("\t", col(keyCol), col(valCol)).as("line"),
          col(keyCol).as("k"))
        .repartition(numPartitions, col("k"))
        .sortWithinPartitions("line")
        .select("line")
        .write.mode(SaveMode.Overwrite).text(outDir)
    } else {
      val spark = df.sparkSession
      val n = numPartitions
      val pairs = df.select(
          concat_ws("\t", col(keyCol), col(valCol)).as("line"),
          graft.ops.Core.md5Partition(col(keyCol), n).cast("int").as("pid"))
        .rdd.map(r => (r.getInt(1), r.getString(0)))
        .partitionBy(new org.apache.spark.Partitioner {
          override def numPartitions: Int = n
          override def getPartition(key: Any): Int = key.asInstanceOf[Int]
        })
      // reference worker sorts each reduce partition's lines wholesale;
      // sort the UTF-8 bytes so ordering is by code point, not UTF-16
      // code unit (encode once per line, not per comparison)
      val sorted = pairs.values.mapPartitions { it =>
        val a = it.map(s =>
          (s.getBytes(java.nio.charset.StandardCharsets.UTF_8), s)).toArray
        java.util.Arrays.sort(a,
          (x: (Array[Byte], String), y: (Array[Byte], String)) =>
            java.util.Arrays.compareUnsigned(x._1, y._1))
        a.iterator.map(_._2)
      }
      val path = new org.apache.hadoop.fs.Path(outDir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true) // overwrite semantics
      sorted.saveAsTextFile(outDir)
    }
  }

  /** Round-trip helpers for the standard row formats. */
  def writeCsv(df: DataFrame, out: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(out)

  def readCsv(spark: SparkSession, in: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(in)

  def writeJson(df: DataFrame, out: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(out)

  def readJson(spark: SparkSession, in: String): DataFrame =
    spark.read.json(in)

  /** Small-files compaction — the landing-zone maintenance op every
    * streaming ingest needs: size the output file count from the
    * input's actual bytes (ceil(total / targetFileBytes)), one
    * round-robin repartition, rewrite. At 100 TB this runs per
    * partition directory (compact yesterday's dirty partitions, not
    * the table); the repartition is the only shuffle and it carries
    * each byte once. Returns the chosen file count.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
    targetFileBytes: Long): Int = {
    val total = dataFiles(spark, inDir).map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    readParquet(spark, inDir).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    n
  }

  /** Z-ordered parquet layout over two integer-keyed columns: quantize
    * each key to 16 bits over its min..max range, interleave the bits
    * into a z-value, range-partition + sort on it, write. Each output
    * file then covers a tight rectangle in (a, b) space, so its parquet
    * footer min/max on BOTH columns is narrow — a predicate box skips
    * the row groups of every file outside it (Spark prunes at row-group
    * granularity from the pushed filters; with one row group per file
    * that is file-level skipping). This is the at-rest layout lever for
    * multi-dimensional point/box lookups that single-column sorting
    * cannot give: sorting by `a` leaves every file spanning all of `b`.
    * Measured in `ZOrderSpec`: a ~1% box scan reads ~10× fewer rows
    * from the z-ordered layout than from a round-robin one.
    */
  def writeZOrdered(df: DataFrame, out: String, colA: String, colB: String,
    nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    // cast to long in the aggregate so IntegerType/ShortType keys work
    val r = df.agg(smin(col(colA).cast("long")), smax(col(colA).cast("long")),
      smin(col(colB).cast("long")), smax(col(colB).cast("long"))).head()
    if (r.isNullAt(0)) { // empty input: nothing to order, write as-is
      df.write.mode(SaveMode.Overwrite).parquet(out)
      return
    }
    // quantize through DOUBLE: (c-lo)*65535 in long arithmetic would
    // overflow for spans beyond ~1.4e14 (epoch-nanos keys); the layout
    // key only needs monotonicity, not exactness, so double is right
    def q(c: String, lo: Long, hi: Long): String = {
      val span = math.max(1L, hi - lo)
      s"CAST((CAST(`$c` AS DOUBLE) - ${lo}.0D) * 65535.0D / ${span}.0D AS BIGINT)"
    }
    val qa = q(colA, r.getLong(0), r.getLong(1))
    val qb = q(colB, r.getLong(2), r.getLong(3))
    val z = (0 until 16).map { b =>
      s"(shiftleft(shiftright($qa, $b) & 1, ${2 * b}) | " +
        s"shiftleft(shiftright($qb, $b) & 1, ${2 * b + 1}))"
    }.mkString("(", " | ", ")")
    df.withColumn("__z", org.apache.spark.sql.functions.expr(z))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  /** Raw media ingestion: whole files as rows (path, modificationTime,
    * length, content BINARY) — the step BEFORE the multimodal lane's
    * parquet-resident binary columns exist. `pathGlobFilter` prunes by
    * extension at listing time (no bytes read for filtered files) and
    * binary contents ride Spark's columnar machinery unchanged, so
    * `binaryFile → select(metadata, content) → write.parquet` IS the
    * multimodal landing pipeline. At scale, `maxPartitionBytes` grouping
    * applies per file (files are never split), so many small media files
    * batch into sane tasks.
    */
  def readBinaryFiles(spark: SparkSession, dir: String,
    glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)

  def writeOrc(df: DataFrame, out: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(out)

  def readOrc(spark: SparkSession, in: String): DataFrame =
    spark.read.orc(in)

  /** Partitioned-by-column parquet layout (the at-rest partitioning that
    * makes partition pruning work at scale).
    */
  def writePartitioned(df: DataFrame, out: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(out)

  /** Sink + source in the driver gate: aggregate, write the result out as
    * headered CSV (overwrite), read it back with an explicit schema (no
    * inference drift), and return the re-read frame — hash-checked
    * against the aggregation SQL, proving the CSV round-trip preserves
    * values exactly. Doubles survive because Spark's CSV writer emits
    * round-trippable representations.
    */
  def qSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val out = stagedPath("graft_sink_csv_", dir)
    graft.Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double")
          .as("sum_qty"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
    spark.read
      .schema("l_returnflag STRING, l_linestatus STRING, n_rows BIGINT, sum_qty DOUBLE")
      .option("header", "true").csv(out)
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Bucketed at-rest layout: hash-bucket rows into `n` buckets on
    * `bucketCol`, sorted within each bucket file, registered in the
    * session catalog so downstream scans see the bucketing metadata.
    * This is the write-once / join-many lever at 100 TB: every join or
    * aggregation keyed on `bucketCol` against a table bucketed the same
    * way runs WITHOUT an exchange — the scan itself satisfies the
    * required hash distribution, so petabyte-scale fact-to-fact joins
    * (too big for broadcast, too expensive to shuffle nightly) pay the
    * shuffle once at layout time instead of per query. The path option
    * makes the table external (data at `path`, only metadata in the
    * catalog), matching how a lakehouse deployment would register it.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
    bucketCol: String, n: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(n, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Stage a bucketed layout of `df` ONCE per content fingerprint of its
    * source table (same write-once contract as the z-order and IVF
    * layouts — [[stagePublishedLayout]]/[[layoutDir]]) and register it
    * in the session catalog as an external bucketed table; returns the
    * table name. The staging write goes through the normal bucketed
    * writer under a throwaway catalog name (dropped after the write —
    * the table is external, so the files stay), the atomic publish
    * renames the directory with the bucket-id file names intact, and
    * the final CREATE TABLE re-attaches the CLUSTERED/SORTED BY
    * metadata to the published location — so downstream joins see
    * exactly the bucketing a `saveAsTable` would have produced.
    * Registration is per-catalog and idempotent (`IF NOT EXISTS`;
    * name embeds the content fingerprint, so regenerated source data
    * stages AND registers fresh instead of answering from a stale
    * layout).
    */
  def stagedBucketedTable(spark: SparkSession, dir: String,
    sourceTable: String, prefix: String, df: DataFrame,
    bucketCol: String, n: Int): String = {
    val out = layoutDir(prefix, dir, sourceTable)
    val table = new java.io.File(out).getName
    stagePublishedLayout(s"$dir->$out", out) { tmp =>
      val stage = table + "_stage"
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      writeBucketed(df, stage, tmp, bucketCol, n)
      spark.sql(s"DROP TABLE IF EXISTS $stage")
    }
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $table (${df.schema.toDDL}) " +
        s"USING PARQUET CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
        s"INTO $n BUCKETS LOCATION '$out'")
    table
  }

  /** Gate query: bucket lineitem AND orders on the order key (same bucket
    * count), then sort-merge join them bucket-to-bucket and aggregate
    * revenue by order priority. `BucketingSpec` pins the plan shape this
    * exists to prove: both scans report bucketed=true and the
    * SortMergeJoin subtree contains ZERO shuffle exchanges — the only
    * exchange in the whole plan is the final groupBy's (3-row groups).
    * The merge hint keeps AQE from broadcasting the small-at-sf side,
    * since the demonstration target is the fact-to-fact shape where
    * broadcast is not an option.
    *
    * The layouts are STAGED (r18): bucketing is write-once / join-many
    * by definition — its entire economic argument is paying the layout
    * shuffle once instead of per query — yet this query used to rewrite
    * both bucketed tables on every invocation, timing the write, not
    * the exchange-free join it demonstrates. Now both tables go through
    * the same content-fingerprinted publish-once mechanism as the
    * z-order/IVF layouts ([[stagedBucketedTable]]): the first run per
    * data fingerprint pays the layout (a one-time staging pass; SCALE.md
    * §round 15 records one at 7.8 s), every later run measures the
    * bucket-to-bucket join itself.
    */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
    val one = lit(1).cast(DecimalType(12, 2))
    val li = stagedBucketedTable(spark, dir, "lineitem.parquet",
      "graft_bktli", graft.Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", 8)
    val ord = stagedBucketedTable(spark, dir, "orders.parquet",
      "graft_bktord", graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority"),
      "o_orderkey", 8)
    spark.table(li).hint("merge")
      .join(spark.table(ord),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val stagedKeys = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Any]]()

  /** Same-JVM staging memo, shared by every staged layout and landing
    * zone: the first caller for a key installs a
    * future via `putIfAbsent` and runs the (multi-minute) layout write
    * OUTSIDE the map's bin lock; siblings — including callers for
    * unrelated keys that happen to hash to the same bin, who would have
    * blocked for the whole write under `computeIfAbsent`'s in-mapping
    * variant — await the future. Failure is never memoized (matching
    * `computeIfAbsent`'s exception-not-recorded semantics): the owner
    * removes the entry before completing exceptionally and rethrows its
    * own exception, while WAITERS that observe the failure loop back
    * through `putIfAbsent` and retry — exactly as a `computeIfAbsent`
    * waiter would have re-entered the mapping function (r13 ADVICE fix;
    * previously waiters fail-fasted with a wrapped CompletionException).
    * The staging's result is memoized with it (a staged zone's `max(ts)`
    * is a property of the staged files), so every caller gets the
    * value the one successful staging computed.
    */
  private[graft] def stageOnceInJvm[T](key: String)(stage: => T): T = {
    val fut = new java.util.concurrent.CompletableFuture[Any]()
    val prior = stagedKeys.putIfAbsent(key, fut)
    if (prior == null) {
      val v = try stage
      catch { case e: Throwable =>
        stagedKeys.remove(key, fut)
        fut.completeExceptionally(e)
        throw e
      }
      fut.complete(v)
      v
    } else
      try prior.join().asInstanceOf[T]
      catch { case _: java.util.concurrent.CompletionException =>
        // the staging we awaited failed; its owner already removed
        // the memo entry, so retry — we may become the new owner
        stageOnceInJvm(key)(stage)
      }
  }

  /** Publish a derived at-rest layout at `out` exactly once, safely
    * under concurrency (round-11 fix for the z-order staging race
    * flagged in r10; cross-JVM publication serialized in r12 per
    * ADVICE; generalized from the z-order path in r13 so every staged
    * layout — z-order, IVF list-partitioned — shares one audited
    * mechanism):
    *
    *  - same JVM: callers route through [[stageOnceInJvm]] — the write
    *    runs once and siblings block on its future until published (the
    *    old `Set.add` guard let the loser proceed straight to a
    *    half-written dir).
    *  - across JVMs (sbt test alongside a gate run): `write` targets a
    *    UNIQUE temp dir, then the publication step (stale-partial
    *    cleanup + atomic rename) runs under an OS-level `FileChannel`
    *    lock on a sibling `.lock` file — so the check-then-delete can
    *    never destroy a layout another JVM published in between (the
    *    r11 TOCTOU), and readers only ever observe a complete layout.
    *    If another JVM published while we staged, our copy is discarded
    *    (same input ⇒ same content). Completeness is judged by Spark's
    *    own `_SUCCESS` marker.
    */
  def stagePublishedLayout(key: String, out: String)(
      write: String => Unit): Unit =
    stageOnceInJvm(key) { publishLayoutOnce(out)(write) }

  /** Location of a staged derived layout of `dir/sourceTable`, keyed by
    * a content fingerprint of the source files (sorted
    * name:size:mtime:edgehash manifest). The memo and the cross-JVM
    * `_SUCCESS` marker are
    * path-keyed, so a layout path derived from the source PATH alone
    * goes stale the moment the data at that path is regenerated (the
    * 100× recipes rebuild into the same /tmp dir): the probe would
    * answer from the old layout while codebook/probe ids recompute from
    * fresh data — r14 ADVICE. Folding the fingerprint into the path
    * makes regeneration produce a DIFFERENT layout dir, so staleness is
    * structurally impossible; abandoned layouts are left for tmpdir
    * cleanup (layouts are small projections, and the alternative —
    * invalidating `_SUCCESS` in place — reopens the r11 TOCTOU the
    * atomic-publish path closed). The [[edgeHash]] component (first +
    * last 4 KB of each file) closes the name:size:mtime aliasing window
    * a same-size rewrite inside one mtime granule would open (r15
    * ADVICE); a rewrite that also preserves BOTH 4 KB edges still
    * aliases, but parquet's footer (schema, row-group offsets, column
    * stats) lives in the tail bytes, so any real regeneration moves it.
    */
  def layoutDir(prefix: String, dir: String, sourceTable: String): String = {
    val src = new java.io.File(dir, sourceTable)
    val entries = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
    val manifest = entries.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}:${edgeHash(f)}")
      .mkString("|")
    val fp = f"${scala.util.hashing.MurmurHash3.stringHash(manifest) & 0xffffffffL}%08x"
    stagedPath(s"${prefix}_", dir) + s"_$fp"
  }

  /** Absolute path of `name` under the JVM's temp directory: where every
    * staged landing zone, layout, sink output and stream store lives.
    */
  def tmpPath(name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), name).getAbsolutePath

  /** [[tmpPath]] of `prefix` followed by the source directory `dir` with
    * every non-alphanumeric character replaced by `_`: one staging path
    * per (purpose, source) pair.
    */
  def stagedPath(prefix: String, dir: String): String =
    tmpPath(prefix + dir.replaceAll("[^a-zA-Z0-9]", "_"))

  /** Cheap content component for [[layoutDir]]'s manifest: murmur3 over
    * the first and last 4 KB of a regular file (0 for directories or
    * unreadable entries). Reads ≤8 KB per file — constant cost no
    * matter the table size, because the layouts' staleness evidence
    * only needs to move when the bytes move, not to checksum 100 TB.
    */
  private def edgeHash(f: java.io.File): Int = {
    if (!f.isFile) return 0
    try {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(4096L, raf.length()).toInt
        val head = new Array[Byte](n)
        raf.readFully(head)
        val tail = new Array[Byte](n)
        raf.seek(raf.length() - n)
        raf.readFully(tail)
        scala.util.hashing.MurmurHash3.bytesHash(head ++ tail)
      } finally raf.close()
    } catch { case _: java.io.IOException => 0 }
  }

  /** Summed bytes of the data files under `path` (a parquet file or a
    * directory of part files, listed as [[readParquet]] lists them,
    * through the Hadoop `FileSystem` so `hdfs://` and `s3://` paths
    * size correctly; 0 for a missing path) — the one size probe behind
    * [[graft.streaming.Streaming.adaptiveStateParts]],
    * [[graft.ops.Robust]]'s single-scan switch and
    * [[graft.ops.Relational4.activationWaves]] (r15 ADVICE: the
    * previous input, `optimizedPlan.stats.sizeInBytes`, shifts with
    * session conf such as `fileCompressionFactor` and falls back to a
    * huge default when stats are unavailable, silently yielding the
    * 8-wave cap — correctness-neutral but environment-dependent plan
    * shape). File bytes are a pure function of the staged data.
    */
  def sourceFileBytes(spark: SparkSession, path: String): Long =
    try dataFiles(spark, path).map(_.getLen).sum
    catch { case _: java.io.FileNotFoundException => 0L }

  /** The files Spark's file index lists under a parquet `path`, sorted
    * by path: the path itself if it is a file, else every file below
    * it, skipping `_`- and `.`-prefixed names except `k=v` partition
    * directories and the `_metadata` / `_common_metadata` summaries
    * (`HadoopFSUtils.shouldFilterOutPathName`'s rule). Listed through
    * the Hadoop `FileSystem`, so it works on any filesystem Spark
    * reads; a missing path throws `FileNotFoundException`.
    */
  private def leafFiles(spark: SparkSession, path: String)
    : Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listed(name: String) =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) ||
        name.startsWith("_common_metadata") || name.startsWith("_metadata")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filter(c => listed(c.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }

  private val summaryFiles = Set("_common_metadata", "_metadata")

  private def dataFiles(spark: SparkSession, path: String) =
    leafFiles(spark, path).filterNot(f => summaryFiles(f.getPath.getName))

  /** Read a parquet path, taking its schema from one footer read on the
    * driver. `spark.read.parquet(path)` infers the schema with a
    * one-task Spark job (`mergeSchemasInParallel`) even with schema
    * merging off, when a single footer decides it: one job per table
    * read, inside every query builder. This reads the footer that
    * inference would pick (`_common_metadata`, else `_metadata`, else
    * the first data file in path order — `ParquetUtils.inferSchema`'s
    * rule), without its row groups, and takes the schema Spark would
    * take from it: the Spark row-metadata JSON when present, else the
    * parquet schema converted under the session's `binaryAsString`,
    * `int96AsTimestamp`, `nanosAsLong` and `inferTimestampNTZ`
    * settings. Spark still lists the files and infers partition
    * columns from `k=v` directories, so the relation and its plans
    * are unchanged and no job runs. Falls back to plain
    * `spark.read.parquet` when schema merging is on or no footer can be
    * read (missing path, empty directory, corrupt file), so Spark's own
    * behaviour and errors surface unchanged.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String)
    : Option[org.apache.spark.sql.types.StructType] = spark match {
    case s: org.apache.spark.sql.classic.SparkSession
        if !s.sessionState.conf.isParquetSchemaMergingEnabled =>
      import org.apache.parquet.format.converter.ParquetMetadataConverter
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
      import org.apache.spark.sql.types.{DataType, StructType}
      try {
        val leaves = leafFiles(spark, path)
        def named(n: String) = leaves.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(leaves.find(f => !summaryFiles(f.getPath.getName)))
          .flatMap { f =>
            val meta = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration),
              ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
            Option(meta.getKeyValueMetaData.get(
                "org.apache.spark.sql.parquet.row.metadata")) match {
              // a row-metadata string that is not JSON takes Spark's
              // legacy-format parser: leave it to the fallback
              case Some(json) => scala.util.Try(
                DataType.fromJson(json).asInstanceOf[StructType]).toOption
              case None => Some(new ParquetToSparkSchemaConverter(
                s.sessionState.conf).convert(meta.getSchema))
            }
          }
      } catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  private def publishLayoutOnce(out: String)(write: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val outPath = Paths.get(out)
    def complete = Files.exists(outPath.resolve("_SUCCESS"))
    if (complete) return
    val tmp = out + ".stage-" + java.util.UUID.randomUUID().toString.take(8)
    write(tmp)
    val ch = java.nio.channels.FileChannel.open(Paths.get(out + ".lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val lock = ch.lock() // blocks until any concurrent publisher is done
      try {
        if (complete) {
          // another JVM published while we staged — keep the winner's
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
        } else {
          // a stale PARTIAL dir (crashed writer under the old in-place
          // code) blocks the rename: clear it before publishing. Under
          // the lock this can only ever delete an INCOMPLETE dir.
          if (Files.exists(outPath))
            org.apache.commons.io.FileUtils.deleteDirectory(outPath.toFile)
          Files.move(Paths.get(tmp), outPath, StandardCopyOption.ATOMIC_MOVE)
        }
      } finally lock.release()
    } finally ch.close()
  }

  /** Gate query for the Z-ordered layout: write lineitem's
    * (l_partkey, l_suppkey, l_quantity) z-ordered on the two keys (once
    * per dir, concurrency-safe via [[stagePublishedLayout]] — a layout
    * is write-once / scan-many by
    * definition), then answer a ~1%-of-the-key-plane box scan from it,
    * aggregated per supplier. The oracle is the SAME box over the
    * original un-ordered table, so the gate proves the layout is
    * answer-preserving; the scan-efficiency claim this layout exists
    * for — the pushed min/max box skips the row groups of every file
    * outside the box rectangle — is pinned by `ZOrderSpec` on BOTH this
    * gate query's own leaf metrics (rows actually produced by the scan)
    * and a round-robin control layout (~10× more rows read), and the
    * plan's `PushedFilters` line shows in `graft.tools.PlanDump`'s
    * formatted plan.
    */
  def qZOrderScan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // content-fingerprinted (see layoutDir): regenerating lineitem in
    // place re-stages instead of answering from the stale layout
    val out = layoutDir("graft_zorder", dir, "lineitem.parquet")
    val base = graft.Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    stagePublishedLayout(s"$dir->$out", out) { tmp =>
      writeZOrdered(base, tmp, "l_partkey", "l_suppkey", 16)
    }
    val r = base.agg(max("l_partkey"), max("l_suppkey")).head()
    val (maxP, maxS) = (r.getLong(0), r.getLong(1))
    readParquet(spark, out)
      .filter(col("l_partkey") <= maxP / 10 && col("l_suppkey") <= maxS / 10)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double")
          .as("sum_qty"))
      .orderBy("l_suppkey")
  }

  val oracles: Map[String, String] = Map(
    "q_zorder_scan" ->
      """SELECT l_suppkey, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey <= (SELECT max(l_partkey) // 10 FROM lineitem)
        |  AND l_suppkey <= (SELECT max(l_suppkey) // 10 FROM lineitem)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sink_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  )
}
