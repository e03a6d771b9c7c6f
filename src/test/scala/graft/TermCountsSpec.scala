package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TermCounts

/** `term_counts(array<string>)`: per-row counts of the non-empty,
  * non-null tokens, keys in order of first occurrence, null in → null
  * out; and keys that stay valid after the input row's buffer is reused.
  */
class TermCountsSpec extends SparkTestBase {

  import TermCountsSpec.decode

  private val toks = ArrayType(StringType)

  private def evalOn(tokens: Seq[String]): Seq[(String, Long)] =
    decode(TermCounts(Literal.create(tokens, toks)).eval())

  private def unsafeRow(proj: UnsafeProjection, tokens: String*): InternalRow =
    proj(InternalRow(new GenericArrayData(
      tokens.map(t => UTF8String.fromString(t): Any).toArray)))

  test("null array is null, empty array is an empty map") {
    assert(TermCounts(Literal.create(null, toks)).eval() == null)
    assert(evalOn(Seq.empty).isEmpty)
  }

  test("empty and null elements are skipped, a tab is a token") {
    assert(evalOn(Seq("", null, "", null)).isEmpty)
    assert(evalOn(Seq("a", "", null, "\t", "a", "\t", "", "b")) ==
      Seq("a" -> 2L, "\t" -> 2L, "b" -> 1L))
  }

  test("repeated and non-ASCII tokens count by their UTF-8 bytes") {
    assert(evalOn(Seq("x", "x", "x")) == Seq("x" -> 3L))
    assert(evalOn(Seq("café", "日本", "cafe", "café", "😀", "日本", "café")) ==
      Seq("café" -> 3L, "日本" -> 2L, "cafe" -> 1L, "😀" -> 1L))
  }

  test("keys outlive the input row's reused buffer") {
    // an UnsafeProjection writes every row into the same buffer; the
    // map built from the first row must not read the second row's bytes
    val proj = UnsafeProjection.create(Array[DataType](toks))
    val tc = TermCounts(BoundReference(0, toks, nullable = true))
    val first = unsafeRow(proj, "aa", "bb", "aa")
    assert(first.getArray(0).isInstanceOf[UnsafeArrayData])
    val m = tc.eval(first)
    unsafeRow(proj, "cc", "dd", "cc")
    assert(decode(m) == Seq("aa" -> 2L, "bb" -> 1L))
  }

  test("reads a parquet array<string> column through the registry") {
    import spark.implicits._
    val rows = Seq[(Long, Seq[String])](
      (1L, Seq("to", "be", "or", "not", "to", "be")), (2L, null),
      (3L, Seq()), (4L, Seq("", null, "\t", "é", "é")))
    val dir = Files.createTempDirectory("graft-termcounts").toString
    try {
      rows.toDF("id", "toks").coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
      val back = spark.read.parquet(s"$dir/t")
      val expected = Map(
        1L -> Seq("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L),
        3L -> Seq(), 4L -> Seq("\t" -> 1L, "é" -> 2L))
      val got = back.select(col("id"), expr("term_counts(toks)").as("m"))
        .collect().map(r => r.getLong(0) -> Option(r.getMap[String, Long](1)))
        .toMap
      assert(got(2L).isEmpty)
      assert(got.collect { case (id, Some(m)) => id -> m.toMap } ==
        expected.map { case (id, m) => id -> m.toMap })
      // the scan hands the kernel UnsafeArrayData; hold every row's map
      // until the partition ends, so a key left pointing into the
      // scan's reused row buffer would read a later row's bytes
      val tc = TermCounts(BoundReference(1, toks, nullable = true))
      val raw = back.queryExecution.toRdd.mapPartitions { it =>
        val held = it.map { r =>
          require(r.isNullAt(1) || r.getArray(1).isInstanceOf[UnsafeArrayData])
          r.getLong(0) -> tc.eval(r)
        }.toList
        held.iterator.map { case (id, m) => id -> Option(m).map(decode) }
      }.collect().toMap
      assert(raw == got.map { case (id, _) => id -> expected.get(id) })
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("exploded counts equal a token explode grouped per row") {
    val docs = Tables.documents(spark, sfDir)
    val tokens = split(lower(col("text")), " ", -1)
    val kernel = docs.select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), explode(expr("term_counts(t)")).as(Seq("w", "tf")))
      .groupBy("doc_id", "w").agg(sum("tf").as("tf"))
    val plain = docs.select(col("doc_id"), explode(tokens).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    assert(kernel.count() > 0)
    assert(kernel.exceptAll(plain).isEmpty && plain.exceptAll(kernel).isEmpty)
  }
}

object TermCountsSpec {
  /** A `term_counts` result as (key, count) pairs in map order. */
  def decode(m: Any): Seq[(String, Long)] = {
    val md = m.asInstanceOf[MapData]
    (0 until md.numElements()).map(i =>
      md.keyArray().getUTF8String(i).toString -> md.valueArray().getLong(i))
  }
}
