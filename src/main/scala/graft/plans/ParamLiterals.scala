package graft.plans

import scala.collection.immutable.HashSet
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ExpandExec, FilterExec, GenerateExec,
  ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._

/** A literal whose generated code reads its value instead of spelling
  * it. It evaluates, prints and compares exactly like the [[Literal]]
  * it replaces; only `doGenCode` differs: the value travels in
  * `ctx.references` and is unboxed once into a field, so two plans that
  * differ only in such values generate the SAME Java source, and
  * Spark's codegen cache (keyed by source) compiles it once. */
final case class ParamLiteral(value: Any, dataType: DataType)
    extends LeafExpression {
  private val literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  // Literal's equality (NaN equals NaN), so exchange and subquery reuse
  // match the same plans they matched before the rewrite
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: lift per-request literals out of generated code.
  *
  * Spark spells numeric, date and timestamp literals into whole-stage
  * Java source, so a served route whose requests differ only in their
  * window, interval or canvas compiles its stages anew on every
  * request. Inside the code-generating operators that evaluate
  * request expressions (project, filter, hash aggregate, generate,
  * expand, joins) this rule
  *  - replaces each non-null such literal with a [[ParamLiteral]];
  *  - turns an all-literal, null-free `In` into an `InSet` over an
  *    `immutable.HashSet` — Spark's own conversion for long lists,
  *    whose generated code is one set lookup whatever the list's
  *    length (the set's class name is in the source, so it is always
  *    a `HashSet`, never a small `Set2`/`Set3`).
  *
  * Scans and exchanges are never rewritten: parquet pushdown, the
  * archive's day pruning and cached-batch pruning match on `Literal`.
  * Nondeterministic expressions keep theirs too (`rand(seed)` reads
  * its seed by pattern). Null literals stay, so `In` lists holding a
  * null keep their three-valued evaluation.
  *
  * Installed by [[graft.functions.GraftExtensions]] as a
  * pre-columnar-transition rule, which runs in every adaptive query
  * stage and in non-adaptive plans (cached relations) alike. A session
  * without it gives the same answers and recompiles per request. */
object ParamLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: ProjectExec | _: FilterExec | _: HashAggregateExec |
              _: GenerateExec | _: ExpandExec | _: BaseJoinExec) =>
      p.mapExpressions(lift)
  }

  private def lifted(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def lift(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && lifted(t) => ParamLiteral(v, t)
    case In(child, list) if list.nonEmpty && list.forall {
        case Literal(v, t) => v != null && t == child.dataType
        case _ => false } =>
      InSet(lift(child), HashSet.from(list.map(_.eval())))
    case _: Nondeterministic => e
    case _ => e.mapChildren(lift)
  }
}
