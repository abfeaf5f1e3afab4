package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types._

/** `dot_e8(a, b)` — exact quantized dot product of two float arrays:
  * Σᵢ round(aᵢ·10⁴) · round(bᵢ·10⁴) as int64.
  *
  * This is the hot inner loop of the similarity operators. The
  * `aggregate(zip_with(…))` formulation runs as an interpreted
  * higher-order function (two lambda invocations per element); this
  * native expression stays inside whole-stage codegen — one fused Java
  * loop per row, no per-element closures, no intermediate array.
  *
  * Determinism: integer products and sums only, so the result is
  * independent of accumulation order and bit-identical across engines.
  * Rounding is half-AWAY-FROM-ZERO — matching Spark SQL's and DuckDB's
  * `round()` — NOT `Math.round` (half-toward-+∞), which diverges by 1
  * on negative exact ties. Ties DO occur: 10⁴ = 2⁴·5⁴, so any float
  * that is an odd multiple of 2⁻⁵ (e.g. −0.03125 → −312.5) lands on
  * one, and `Math.round` would give −312 where both engines give −313.
  */
case class DotE8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_e8 requires two array<float> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_e8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += DotE8.roundE4(x.getFloat(i)) * DotE8.roundE4(y.getFloat(i))
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val cls = classOf[DotE8].getName.stripSuffix("$")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $cls$$.MODULE$$.roundE4($a.getFloat($i))
         |    * $cls$$.MODULE$$.roundE4($b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotE8 = copy(left = newLeft, right = newRight)
}

object DotE8 {
  /** `round(x·10⁴)` half-away-from-zero — the tie behavior of BOTH
    * Spark SQL's and DuckDB's `round()`. Shared by the interpreted and
    * codegen paths so they cannot drift. */
  def roundE4(x: Float): Long = {
    val v = x.toDouble * 10000.0
    if (v >= 0) Math.round(v) else -Math.round(-v)
  }

  private[functions] val builder = (args: Seq[Expression]) => {
    require(args.length == 2, "dot_e8 takes exactly 2 arguments")
    DotE8(args.head, args(1))
  }

  /** Idempotent per-session registration, for sessions the engine did
    * not create (the driver owns ours). Skips names already present —
    * re-registering works but WARN-logs "replaced a previously
    * registered function" once per query construction. */
  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "dot_e8", builder)
    registerOnce(spark, "dot_e4c", DotE4C.builder)
  }

  private[functions] def registerOnce(spark: SparkSession, name: String,
      b: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, b, "built-in")
  }
}

/** `dot_e4c(a, c)` — Σᵢ round(aᵢ·10⁴)·cᵢ of a float array against an
  * int64 array (typically a literal — e.g. a collected IVF centroid in
  * [[graft.operators.Similarity.ivfTopK]], where one projection with L
  * of these replaces an n×dims×L explode-join). Same codegen shape and
  * rounding contract as [[DotE8]], right side already integer. */
case class DotE4C(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_e4c requires (array<float>, array<bigint>), got " +
          s"${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_e4c"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += DotE8.roundE4(x.getFloat(i)) * y.getLong(i)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val cls = classOf[DotE8].getName.stripSuffix("$")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $cls$$.MODULE$$.roundE4($a.getFloat($i)) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotE4C = copy(left = newLeft, right = newRight)
}

object DotE4C {
  private[functions] val builder = (args: Seq[Expression]) => {
    require(args.length == 2, "dot_e4c takes exactly 2 arguments")
    DotE4C(args.head, args(1))
  }
}

/** `SparkSessionExtensions` hook — the supported way to ship the
  * function into sessions built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the SAME builders registerOnce uses — inline lambdas here once
    // duplicated them minus their arity `require`s, so wrong-arity SQL
    // crashed with a raw IndexOutOfBounds instead of the clean
    // "takes exactly N arguments" analysis error
    ext.injectFunction((FunctionIdentifier("dot_e8"),
      new ExpressionInfo(classOf[DotE8].getName, "dot_e8"),
      DotE8.builder))
    ext.injectFunction((FunctionIdentifier("dot_e4c"),
      new ExpressionInfo(classOf[DotE4C].getName, "dot_e4c"),
      DotE4C.builder))
    ext.injectFunction((FunctionIdentifier("poly_hash31"),
      new ExpressionInfo(classOf[PolyHash31].getName, "poly_hash31"),
      PolyHash31.builder))
    ext.injectFunction((FunctionIdentifier("micros_of"),
      new ExpressionInfo(classOf[MicrosOf].getName, "micros_of"),
      MicrosOf.builder))
    // derived-column predicate derivation (pushable raw-ts bounds from
    // filters on `t = ts div 1000` — see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.DerivedDivBounds)
    // per-request literals read from references, not spelled into
    // generated code: the pre-transition hook runs in every adaptive
    // query stage and in non-adaptive plans (cached relations) alike
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.plans.ParamLiterals
    })
  }
}
