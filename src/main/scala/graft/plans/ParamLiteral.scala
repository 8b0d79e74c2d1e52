package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison,
  Expression, In, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive constant whose generated code does not contain
  * its value. `Literal` writes its value into the Java source, so every
  * new filter or alias constant is a new source text: a codegen-cache
  * miss, a Janino compile of each class of the stage, and a fresh round
  * of JIT work. This expression instead loads the value once from the
  * generated class's `references` array into a field, so two plans that
  * differ only in such constants generate byte-identical source and share
  * one compiled class.
  *
  * It prints exactly like the `Literal` it replaces (plan strings and SQL
  * do not change), and it is equal only to a constant of the same type
  * and the same value. Floating-point values compare by their bits, so
  * NaN equals NaN and -0.0 differs from 0.0: canonicalization and
  * exchange reuse never merge two plans that differ in a constant. */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.supported(dataType),
    s"ParamLiteral takes a non-null primitive constant, got $value: $dataType")

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  private def asLiteral: Literal = Literal(value, dataType)
  override def toString: String = asLiteral.toString
  override def sql: String = asLiteral.sql

  override def equals(other: Any): Boolean = other match {
    // the boxed Java equals: bitwise for Float/Double, unlike Scala's ==
    case p: ParamLiteral => dataType == p.dataType && value.asInstanceOf[AnyRef].equals(p.value)
    case _ => false
  }
  override def hashCode: Int = 31 * dataType.hashCode + value.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Physical rule: replaces the non-null primitive literals that are direct
  * operands of a comparison, of arithmetic or of an `in` list, inside
  * `FilterExec` conditions and `ProjectExec` project lists, with
  * [[ParamLiteral]]. Those are the dialect's `where` and alias constants,
  * the ones that vary from request to request. Every other literal (rand
  * seeds, ordinals, rounding scales, frames, limits) stays a `Literal`:
  * it either needs one or never varies.
  *
  * It runs on physical plans only. A `Literal` subclass would be undone by
  * `TreeNode.transform` (`Literal.equals` accepts it), and any other
  * expression in a logical plan would hide the constant from parquet
  * filter pushdown and in-memory batch pruning. Scans keep their own copy
  * of the predicates, so pruning still sees real `Literal`s.
  *
  * Installed through [[GraftExtensions]] as a post-columnar-transition
  * rule, which runs in both the non-adaptive preparations and adaptive
  * execution's per-stage rules, and before whole-stage codegen collapses
  * the stage. */
object ParameterizeLiterals extends Rule[SparkPlan] {

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] = ParameterizeLiterals
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = parameterize(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(parameterize(_).asInstanceOf[NamedExpression]))
  }

  private def parameterize(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(lift))
    case a: BinaryArithmetic => a.withNewChildren(a.children.map(lift))
    case i: In => i.copy(list = i.list.map(lift))
  }

  private def lift(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && ParamLiteral.supported(dt) => ParamLiteral(v, dt)
    case other => other
  }
}
