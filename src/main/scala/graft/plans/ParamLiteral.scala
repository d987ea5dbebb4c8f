package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter constant that code-generates as a field read, not as source.
  *
  * Spark writes a primitive `Literal` straight into the whole-stage Java
  * source (`filter_value_3 = columnartorow_value_1 == 10L;`), so two plans
  * that differ only in a request key produce different source and each pays
  * its own Janino compile. This leaf carries the value in the generated
  * class's `references` array and copies it into one field at init, so
  * such plans generate byte-identical source and share Spark's codegen
  * cache.
  *
  * Everything else is the literal's: `eval` returns the value, `toString`
  * and `sql` render as `Literal` (explain text is unchanged), and it
  * canonicalizes with its value, so exchange and subquery reuse never merge
  * two plans that differ only in a key. It is not `foldable`, so no codegen
  * path evaluates it into the source again.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Lifts every non-null primitive literal that is a direct operand of a
  * comparison in a `FilterExec` condition into a [[ParamLiteral]].
  *
  * Installed by `GraftExtensions` as a pre-columnar-transition rule, so it
  * runs after planning (the scan's `PushedFilters` are already derived from
  * the original literals) and before `CollapseCodegenStages` generates the
  * whole-stage source. The query door's six routes differ only in station
  * and date, so with this rule each route compiles once per session instead
  * of once per new key.
  */
object LiftFilterLiterals extends Rule[SparkPlan] {
  private def liftable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | DoubleType |
        FloatType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  private def lift(condition: Expression): Expression = condition.transform {
    case c: BinaryComparison => c.mapChildren {
      case Literal(v, dt) if v != null && liftable(dt) => ParamLiteral(v, dt)
      case other => other
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec =>
      val lifted = lift(f.condition)
      if (lifted eq f.condition) f else f.copy(condition = lifted)
  }
}
