package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code does not contain
  * its value: the value travels in the generated class's reference
  * array and is read once into a field when the class is initialised.
  * Two plans that differ only in such a literal generate the same
  * source, so Spark's generated-class cache (keyed by the source)
  * compiles the class once — the analogue of compiling a Gandiva
  * filter once and evaluating it on every batch, where Spark would
  * otherwise inline the value and compile a class per value.
  *
  * `eval` returns the value, and equality (hence the canonical form
  * that exchange and subquery reuse compare) keeps it: two filters
  * that differ only in the value are never the same result. Plans
  * print the value as the literal does. */
case class ParamLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

/** Physical rule: in every `FilterExec` condition, each non-null
  * primitive literal that is a direct operand of a comparison
  * (`=`, `<=>`, `<`, `<=`, `>`, `>=`, `IN`) becomes a [[ParamLiteral]],
  * so a read whose predicate differs only in a literal reuses the
  * compiled class of the previous one. Scans are left alone: their
  * data and pushed filters keep the real literal, so parquet row-group
  * pruning is unchanged. Idempotent (a parameter is no longer a
  * `Literal`).
  *
  * It runs before the columnar transitions and whole-stage codegen
  * (`ColumnarRule.preColumnarTransitions`), in the plain and in the
  * adaptive preparation alike; [[graft.GraftExtensions]] installs it. */
object ParamLiteralRule extends Rule[SparkPlan] {
  private val primitive: Set[DataType] = Set(IntegerType, LongType,
    ShortType, ByteType, FloatType, DoubleType, DateType, TimestampType)

  private def param(e: Expression): Expression = e match {
    case l: Literal if l.value != null && primitive(l.dataType) => ParamLiteral(l)
    case other => other
  }

  private def parameterize(cond: Expression): Expression = cond.transformUp {
    case c @ (_: BinaryComparison | _: In) => c.withNewChildren(c.children.map(param))
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = parameterize(f.condition)
      if (cond fastEquals f.condition) f else f.copy(condition = cond)
  }
}
