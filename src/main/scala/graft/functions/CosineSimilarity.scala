package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
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

/** Registration helpers: either via spark.sql.extensions=graft.functions
  * .GraftExtensions at session build, or imperatively per-session.
  */
object GraftFunctions {
  val cosineSimBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects 2 arguments, got ${other.size}")
  }

  private val info = new ExpressionInfo(
    classOf[CosineSimilarity].getCanonicalName, "cosine_sim")

  val ivfNearestBuilder: Seq[Expression] => Expression = {
    case Seq(e, c, n) => IvfNearest(e, c, n)
    case other => throw new IllegalArgumentException(
      s"ivf_nearest expects 3 arguments, got ${other.size}")
  }

  private val ivfNearestInfo = new ExpressionInfo(
    classOf[IvfNearest].getCanonicalName, "ivf_nearest")

  val termCountsBuilder: Seq[Expression] => Expression = {
    case Seq(toks) => TermCounts(toks)
    case other => throw new IllegalArgumentException(
      s"term_counts expects 1 argument, got ${other.size}")
  }

  private val termCountsInfo = new ExpressionInfo(
    classOf[TermCounts].getCanonicalName, "term_counts")

  /** Spark ships `BloomFilterAggregate` / `BloomFilterMightContain`
    * (the build and probe its own runtime row-level filtering plans)
    * but keeps both OUT of the public function registry — so expose
    * them here under Spark's internal names for a fully codegen
    * bloom-semi-join prefilter ([[graft.ops.Pipeline.bloomPrefilter]]).
    */
  val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c, est, bits) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(c, est, bits)
    case Seq(c, est) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(c, est)
    case Seq(c) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(c)
    case other => throw new IllegalArgumentException(
      s"bloom_filter_agg expects 1-3 arguments, got ${other.size}")
  }

  val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bf, v) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, v)
    case other => throw new IllegalArgumentException(
      s"might_contain expects 2 arguments, got ${other.size}")
  }

  private val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]
      .getCanonicalName, "bloom_filter_agg")

  private val mightContainInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
      .getCanonicalName, "might_contain")

  /** Idempotent imperative registration on an existing session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val registry = classic.sessionState.functionRegistry
    val id = FunctionIdentifier("cosine_sim")
    if (!registry.functionExists(id))
      registry.registerFunction(id, info, cosineSimBuilder)
    val mcId = FunctionIdentifier("might_contain")
    if (!registry.functionExists(mcId))
      registry.registerFunction(mcId, mightContainInfo, mightContainBuilder)
    val bfId = FunctionIdentifier("bloom_filter_agg")
    if (!registry.functionExists(bfId))
      registry.registerFunction(bfId, bloomAggInfo, bloomAggBuilder)
    val ivfId = FunctionIdentifier("ivf_nearest")
    if (!registry.functionExists(ivfId))
      registry.registerFunction(ivfId, ivfNearestInfo, ivfNearestBuilder)
    val tcId = FunctionIdentifier("term_counts")
    if (!registry.functionExists(tcId))
      registry.registerFunction(tcId, termCountsInfo, termCountsBuilder)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getCanonicalName, "cosine_sim"),
      GraftFunctions.cosineSimBuilder))
    ext.injectFunction((FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
          .getCanonicalName, "might_contain"),
      GraftFunctions.mightContainBuilder))
    ext.injectFunction((FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]
          .getCanonicalName, "bloom_filter_agg"),
      GraftFunctions.bloomAggBuilder))
    ext.injectFunction((FunctionIdentifier("ivf_nearest"),
      new ExpressionInfo(classOf[IvfNearest].getCanonicalName, "ivf_nearest"),
      GraftFunctions.ivfNearestBuilder))
    ext.injectFunction((FunctionIdentifier("term_counts"),
      new ExpressionInfo(classOf[TermCounts].getCanonicalName, "term_counts"),
      GraftFunctions.termCountsBuilder))
    ext.injectOptimizerRule(_ => graft.plans.CollapseRedundantRound)
    ext.injectOptimizerRule(_ => graft.plans.RewriteAsOfJoin)
  }
}
