package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose value stays out of generated code: the class reads
  * it from the `references` array into a field when it is initialized,
  * so two statements that differ only in this value generate the same
  * Java source and share one compiled class in Spark's code cache.
  *
  * Everything but the generated code sees the `literal` it wraps:
  * `eval` returns its value, equality and canonicalization compare it
  * (exchange and stage reuse never merge two values), and `toString` /
  * `sql` print it, so plans explain exactly as before. It is not
  * foldable: a foldable operand invites expressions to inline its value.
  */
final case class ParamLiteral(literal: Literal) extends LeafExpression {
  require(literal.value != null && ParamLiteral.liftable(literal.dataType),
    s"ParamLiteral holds a non-null primitive value, got $literal")

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val value = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(value, dataType))
  }
}

object ParamLiteral {
  /** The types whose values [[ParamLiteral]] lifts: one Java primitive
    * each (dates are days, timestamps microseconds). */
  def liftable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `e` with every non-null liftable [[Literal]] operand of a
    * comparison or an arithmetic operator replaced by a [[ParamLiteral]].
    * Nothing else changes: `In`, `Like`, casts, function arguments and
    * projected constants keep their literals. */
  def lift(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) if op.children.exists(isLiftable) =>
      op.withNewChildren(op.children.map {
        case l: Literal if isLiftable(l) => ParamLiteral(l)
        case c => c
      })
  }

  private def isLiftable(e: Expression): Boolean = e match {
    case Literal(v, t) => v != null && liftable(t)
    case _ => false
  }

  /** Physical rule: lift the literals of every `FilterExec` condition
    * and `ProjectExec` projection ([[lift]]). Scans, their pushed and
    * partition filters and every other operator keep their literals,
    * as does the logical plan. */
  object LiftRule extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.mapExpressions(lift)
      case p: ProjectExec => p.mapExpressions(lift)
    }
  }

  /** Installs [[LiftRule]] before the columnar transitions, which run
    * before whole-stage codegen collapses the plan, with and without
    * adaptive execution. */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = LiftRule
  }
}
