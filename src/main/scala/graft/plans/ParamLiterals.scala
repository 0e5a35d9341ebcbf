package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic,
  BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value
  * from the generated class's `references` array instead of writing it
  * into the Java source. Two plans that differ only in such values
  * then generate the same source, and Spark's compile cache (keyed on
  * the source text) serves the second one without a Janino compile.
  *
  * Non-foldable, so nothing folds it back; deterministic and
  * non-nullable, like the literal it stands for. Equality and hashing
  * include the exact value (`java.lang.Double.equals`: NaN equals
  * NaN, -0.0 differs from 0.0), so canonicalized plans, and with them
  * exchange and subquery reuse, stay exact. It prints like the
  * [[Literal]] it replaced, so EXPLAIN text does not change.
  */
final case class ParamLiteral(value: Any, dataType: DataType)
    extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value,
      CodeGenerator.boxedType(dataType))
    // read once per generated-class instance, not once per row
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }

  private def literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral =>
      p.dataType == dataType && java.util.Objects.equals(p.value, value)
    case _ => false
  }
  override def hashCode: Int = 31 * dataType.hashCode + value.hashCode
}

/** Replaces the literals that would otherwise be written into
  * whole-stage generated code with [[ParamLiteral]]s, so queries that
  * differ only in those values reuse compiled classes.
  *
  * Rewritten: a non-null literal of a primitive type (int, long,
  * short, byte, float, double, date, timestamp, timestamp_ntz) that is
  * a direct operand of a comparison or an arithmetic operator inside a
  * `FilterExec` condition — the shape of `ts >= TIMESTAMP '…'` and
  * `CAST(value AS BIGINT) < N`. String and decimal literals already
  * reach generated code through `references`.
  *
  * Scan nodes are left alone: a file scan's pushed data filters and
  * partition filters must see real literals to become parquet
  * row-group predicates and partition pruning, and none of them is
  * part of generated code. The rule runs before the columnar
  * transitions and `CollapseCodegenStages`, on both the adaptive and
  * the non-adaptive path.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {
  private def primitive(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && primitive(dt) => ParamLiteral(v, dt)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case op @ (_: BinaryComparison | _: BinaryArithmetic) =>
          op.mapChildren(param)
      }
      if (cond fastEquals f.condition) f else f.copy(condition = cond)
  }
}
