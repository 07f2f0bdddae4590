package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter literal whose value reaches generated code through the
  * `references` array instead of the source text.
  *
  * `Literal.doGenCode` writes its value into the Java source, and Spark's
  * compiled-class cache is keyed on that source, so `WHERE d >= '1995-03-01'`
  * and `WHERE d >= '1995-04-01'` compile two classes each. A `ParamLiteral`
  * emits the same source for every value of its type, so one query shape
  * compiles once per engine. It renders, compares and canonicalizes as the
  * [[Literal]] it wraps: EXPLAIN text is unchanged, and exchange/subquery
  * reuse still tells two values apart.
  */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(
      CodeGenerator.javaType(dataType), "paramLit", v => s"$v = $boxed;", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical rule: direct operands of comparisons and `IN` lists inside
  * `FilterExec` conditions become [[ParamLiteral]]s when they are non-null
  * literals of a primitive type. Only `FilterExec` is touched: scan
  * partition/data filters (pushdown translation matches `Literal`), window
  * frames, limits and every other operator keep their `Literal`s.
  *
  * Injected as a pre-columnar-transition rule
  * (`graft.functions.GraftExtensions.injectPlanRules`), so it runs before
  * `CollapseCodegenStages` both in `QueryExecution.preparations` and in
  * every adaptive re-plan.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {
  private val paramTypes: Set[DataType] =
    Set(IntegerType, LongType, DateType, TimestampType, TimestampNTZType, DoubleType)

  private def param(e: Expression): Expression = e match {
    case l: Literal if l.value != null && paramTypes(l.dataType) => ParamLiteral(l)
    case other => other
  }

  private def parameterize(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case i: In => i.withNewChildren(i.children.map(param))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = parameterize(f.condition))
  }
}
