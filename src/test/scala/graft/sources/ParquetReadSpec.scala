package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

import graft.{SparkTestBase, Tables}

/** Pins [[Sources.readParquet]]'s contract: the schema it takes from one
  * footer on the driver is exactly the schema Spark's inference job
  * returns (names, order, types, nullability, metadata), it runs no
  * Spark job, and whatever it cannot decide from one footer goes back to
  * `spark.read.parquet` unchanged. Also pins [[Sources.sourceFileBytes]]
  * against the `java.io.File` sum it replaced.
  */
class ParquetReadSpec extends SparkTestBase {

  private def tablePath(t: String) = s"$sfDir/$t.parquet"

  private def assertSameRead(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    var got: StructType = null
    val jobs = jobsRunBy { got = Sources.readParquet(spark, path).schema }
    assert(got === want, s"schema of $path")
    assert(got.fieldNames.toSeq === want.fieldNames.toSeq, s"column order of $path")
    assert(jobs === 0, s"readParquet($path) ran Spark jobs")
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every table reads with Spark's inferred schema and no job") {
    Tables.names.foreach(t => assertSameRead(tablePath(t)))
  }

  test("a partitionBy directory keeps its inferred partition column") {
    val out = Files.createTempDirectory("graft-pq-part").resolve("docs").toString
    Tables.documents(spark, sfDir)
      .write.partitionBy("lang").parquet(out)
    assertSameRead(out)
    assert(Sources.readParquet(spark, out).schema.fieldNames.last === "lang")
  }

  test("binaryAsString changes a binary column's type as inference does") {
    // a plain parquet binary column (no Spark row metadata in the footer,
    // no UTF8 annotation), written with parquet's example writer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary payload; optional int32 n; }")
    val file = Files.createTempDirectory("graft-pq-bin").resolve("b.parquet")
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("payload", "abc").append("n", 1))
    finally writer.close()
    val path = file.toString
    val plain = withConf("spark.sql.parquet.binaryAsString", "false") {
      assertSameRead(path)
      Sources.readParquet(spark, path).schema("payload").dataType
    }
    val asString = withConf("spark.sql.parquet.binaryAsString", "true") {
      assertSameRead(path)
      Sources.readParquet(spark, path).schema("payload").dataType
    }
    assert(plain === BinaryType)
    assert(asString === StringType)
  }

  test("mergeSchema=true gives Spark's merged schema") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-pq-merge").resolve("t").toString
    Seq((1L, "x")).toDF("id", "a").write.parquet(out)
    Seq((2L, 2.5)).toDF("id", "b").write.mode("append").parquet(out)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val got = Sources.readParquet(spark, out).schema
      assert(got === spark.read.parquet(out).schema)
      assert(got.fieldNames.toSet === Set("id", "a", "b"))
    }
  }

  test("a missing path throws the exception spark.read.parquet throws") {
    val missing = Files.createTempDirectory("graft-pq-miss")
      .resolve("absent.parquet").toString
    val want = intercept[Throwable](spark.read.parquet(missing))
    val got = intercept[Throwable](Sources.readParquet(spark, missing))
    assert(got.getClass === want.getClass)
  }

  test("sourceFileBytes equals the java.io.File sum, plain and file:// paths") {
    def fileSum(t: String): Long = {
      val src = new java.io.File(sfDir, s"$t.parquet")
      Option(src.listFiles())
        .map(_.filter(_.isFile).map(_.length).sum).getOrElse(src.length)
    }
    Tables.names.foreach { t =>
      val want = fileSum(t)
      assert(want > 0)
      assert(Sources.sourceFileBytes(spark, s"$sfDir/$t.parquet") === want, t)
      assert(Sources.sourceFileBytes(spark, s"file://$sfDir/$t.parquet") === want, t)
    }
    assert(Sources.sourceFileBytes(spark, s"$sfDir/absent.parquet") === 0L)
  }
}
