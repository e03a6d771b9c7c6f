package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native in-row term counter: `term_counts(tokens)` → MAP<STRING,
  * BIGINT>, each distinct non-empty, non-null element of one row's token
  * array mapped to its number of occurrences. A null array gives null;
  * an array with no such element gives an empty map. Keys come in order
  * of first occurrence.
  *
  * This is in-mapper combining (Lin & Dyer, *Data-Intensive Text
  * Processing with MapReduce*): `explode(term_counts(...))` emits one
  * (term, tf) row per distinct term of a row instead of one row per
  * token occurrence, so a shuffle by term ships each (doc, term) once
  * and a hot term's reducer gets one row per doc, not per occurrence.
  * The tokenizer stays outside (TF-IDF passes Spark's own
  * `split(lower(text), ' ', -1)`), so token semantics cannot drift.
  *
  * Keys are compared as UTF-8 bytes. The map keys are `copy()`'d: a
  * `getUTF8String` of an `UnsafeArrayData` points into the input row's
  * buffer, which its producer reuses for the next row, while the map may
  * outlive that row.
  *
  * `CodegenFallback` is deliberate (as in [[IvfNearest]]): the per-row
  * cost is building the hash map, which a generated body would spend the
  * same way, so one interpreted evaluation path serves both modes.
  */
case class TermCounts(child: Expression) extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"term_counts expects ARRAY<STRING>, got ${other.simpleString}")
  }

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "term_counts"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        if (t.numBytes() > 0) {
          val c = counts.get(t)
          if (c == null) counts.put(t.copy(), Array(1L)) else c(0) += 1
        }
      }
      i += 1
    }
    val keys = new Array[Any](counts.size)
    val vals = new Array[Any](counts.size)
    var j = 0
    counts.forEach { (k, c) => keys(j) = k; vals(j) = c(0); j += 1 }
    ArrayBasedMapData(keys, vals)
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}
