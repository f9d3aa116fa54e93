package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the similarity hot kernel (§4.3's
  * optional perf path, now implemented).
  *
  * The HOF formulation `aggregate(zip_with(a,b,*), 0d, +)` allocates an
  * intermediate array per row and interprets two lambdas; this
  * expression runs a primitive fused multiply-add loop inside
  * whole-stage codegen — no allocation, no virtual calls. Accumulation
  * order is the same ascending left fold, so results are bit-identical
  * to the HOF version (and to the DuckDB oracle's list_reduce fold).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  // NULL semantics mirror the HOF aggregate(zip_with(...)) fold this
  // replaces: length mismatch or any NULL element → NULL (zip_with
  // pads with NULL, + propagates it). Silent min-length truncation
  // would rank corrupt vectors with a wrong similarity instead of
  // excluding them.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column API for the native vector expressions. */
object VectorExpressions {

  private val dotInfo = new ExpressionInfo(
    classOf[DotProduct].getName, "graft_dot")

  /** Register in an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")

  /** graft_dot(a, b) as a Column (requires register(spark) once per
    * session — Knn calls it automatically). */
  def dot_native(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)
}

/** SparkSessionExtensions hook: enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — registers
  * ALL the native graft functions at session build, SQL and DataFrame
  * both (the config-file twin of GraftSession.registerFunctions), the
  * graft statement parser, and the rule that reads graft tables
  * through Spark's own Parquet file scan. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // statement-text MERGE INTO against graft tables via plain
    // spark.sql — non-MERGE statements delegate untouched
    // (graft.plans.GraftSqlParser scaladoc has the 3-stage contract)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // reads of graft tables through Spark's own Parquet file scan
    // (graft.sources.GraftReadRule scaladoc)
    ext.injectResolutionRule(session => new graft.sources.GraftReadRule(session))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize_text"),
      (exprs: Seq[Expression]) => NormalizeText(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_char_shingles"),
      new ExpressionInfo(classOf[CharShingles].getName, "graft_char_shingles"),
      (exprs: Seq[Expression]) => CharShingles.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      (exprs: Seq[Expression]) => KllSketchAgg.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_freq_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "graft_freq_agg"),
      (exprs: Seq[Expression]) => FreqSketchAgg.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_theta_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "graft_theta_agg"),
      (exprs: Seq[Expression]) => ThetaSketchAgg.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_img_dhash"),
      new ExpressionInfo(classOf[ImgDHash].getName, "graft_img_dhash"),
      (exprs: Seq[Expression]) => MediaHash.imgFromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_wav_envhash"),
      new ExpressionInfo(classOf[WavEnvHash].getName, "graft_wav_envhash"),
      (exprs: Seq[Expression]) => MediaHash.wavFromExprs(exprs)))
  }
}
