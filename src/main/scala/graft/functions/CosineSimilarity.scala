package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * Spark has no built-in vector-cosine; the composable alternative
  * (zip_with + aggregate higher-order functions) allocates a lambda frame
  * per element. This expression runs inside whole-stage codegen as a tight
  * primitive loop — one pass, no allocation — which is what you want when
  * scoring billions of candidate pairs.
  *
  * Semantics match the declarative form exactly (left-to-right double
  * accumulation of dot/na/nb, result = dot / (sqrt(na)*sqrt(nb)), null on
  * zero norm), so it hash-matches the same DuckDB oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xi = (double) $a.getFloat($i);
         |  double yi = (double) $b.getFloat($i);
         |  $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $denom; }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** The native functions, registered from one table: at session build
  * through `spark.sql.extensions=graft.functions.GraftExtensions`, or
  * imperatively per session with [[ensureRegistered]].
  */
object GraftFunctions {
  /** (identifier, info, builder) with the builder's arity error. */
  private def entry(name: String, cls: Class[_], arity: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, name),
      args => build.applyOrElse(args, (a: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name expects $arity, got ${a.size}")))

  /** Spark ships `BloomFilterAggregate` / `BloomFilterMightContain`
    * (the build and probe its own runtime row-level filtering plans)
    * but keeps both OUT of the public function registry — so the table
    * exposes them under Spark's internal names for a fully codegen
    * bloom-semi-join prefilter ([[graft.ops.Pipeline.bloomPrefilter]]).
    */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("cosine_sim", classOf[CosineSimilarity], "2 arguments") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    entry("might_contain", classOf[BloomFilterMightContain], "2 arguments") {
      case Seq(bf, v) => BloomFilterMightContain(bf, v)
    },
    entry("bloom_filter_agg", classOf[BloomFilterAggregate], "1-3 arguments") {
      case Seq(c, est, bits) => new BloomFilterAggregate(c, est, bits)
      case Seq(c, est) => new BloomFilterAggregate(c, est)
      case Seq(c) => new BloomFilterAggregate(c)
    },
    entry("ivf_nearest", classOf[IvfNearest], "3 arguments") {
      case Seq(e, c, n) => IvfNearest(e, c, n)
    },
    entry("term_counts", classOf[TermCounts], "1 argument") {
      case Seq(toks) => TermCounts(toks)
    })

  /** Idempotent imperative registration on an existing session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    for ((id, info, builder) <- table if !registry.functionExists(id))
      registry.registerFunction(id, info, builder)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.CollapseRedundantRound)
    ext.injectOptimizerRule(_ => graft.plans.RewriteAsOfJoin)
  }
}
