package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison,
  Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null atomic constant whose generated code does not contain its
  * value. `Literal` codegen inlines the value into the class text, and
  * that text is the key of Spark's compiled-class cache, so two
  * statements that differ only in a filter constant each compile their
  * whole-stage classes. This leaf puts the value in the class's
  * `references` array and copies it once, at class init, into a
  * primitive field: the text is the same for every value and the cache
  * hits.
  *
  * Everything else is the `Literal`'s: value, type, nullability (false),
  * `toString` and `sql` (so plan strings do not change), and equality,
  * so plans that differ only in the value are never equal and never share
  * an exchange. `eval` serves the interpreted path.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode(): Int = literal.hashCode()

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Rewrites the constants BI statements vary into [[ParamLiteral]]s, so
  * a statement template compiles its whole-stage classes once however
  * its parameters change.
  *
  * Which literals: the non-null direct children of a `BinaryComparison`
  * in a `FilterExec` condition, of a type whose `Literal` codegen inlines
  * the value (boolean, byte, short, int, long, float, double, date,
  * timestamp, timestamp_ntz). Other literals are either already held in
  * `references` (strings, decimals) or not per-statement parameters.
  *
  * Scans keep their `Literal`s: a scan's `dataFilters` and
  * `partitionFilters` are translated into source filters (parquet
  * pushdown, partition pruning) by matching `Literal`, and no scan class
  * text contains them. The pre-adaptive `sparkPlan`, which the plan-smell
  * gate audits, never sees the rewrite either.
  *
  * The hook: a `ColumnarRule.preColumnarTransitions` rule runs in the
  * non-adaptive preparations and in each adaptive query stage's
  * post-creation rules, in both cases before `CollapseCodegenStages` and
  * before exchange reuse. `injectQueryPostPlannerStrategyRule` runs only
  * inside adaptive execution and would miss plans without an exchange,
  * such as a point lookup.
  */
object ParamLiterals extends Rule[SparkPlan] {
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType =>
      true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case other => other
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case c: BinaryComparison => c.mapChildren(param)
    })
  }
}
