package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads the value from
  * the generated class's references, once, into a field at class init,
  * instead of writing it into the Java source as `Literal` does. Two plans
  * that differ only in such a value then generate the same source, so the
  * second reuses `CodeGenerator`'s compiled, JIT-warm class. It prints as
  * the `Literal` would, so plan strings do not change.
  */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "boundLiteral",
      v => s"$v = $ref;", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Planner strategy: plans a logical `Filter`, or a `Project` over one, as
  * the session's other strategies would, then binds the candidate's
  * `FilterExec` comparison literals as [[BoundLiteral]]s, so each served
  * query shape compiles once per JVM. Scan pushdown and row-group pruning
  * are derived from the logical plan, so they are unchanged. A strategy,
  * not a `QueryExecution` preparation rule, because adaptive execution
  * re-plans the stages above a materialized exchange through the session
  * planner, and a preparation rule never sees those stages.
  */
final class BindFilterLiterals(session: SparkSession) extends GraftStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | Project(_, _: Filter) =>
      // every instance of this strategy is skipped, so a double install cannot recurse
      session.sessionState.planner.strategies.iterator
        .filterNot(_.isInstanceOf[BindFilterLiterals])
        .flatMap(_(plan))
        .take(1)
        .map(_.transform { case f: FilterExec => f.copy(condition = BindFilterLiterals.bind(f.condition)) })
        .toSeq
    case _ => Nil
  }
}

object BindFilterLiterals {

  /** The comparison operands and `IN` list elements of `condition` that are
    * non-null primitive, date or timestamp literals, as [[BoundLiteral]]s.
    * Strings and decimals already generate references, and every other
    * literal (LIKE patterns, ROUND scale, format strings) is left alone.
    */
  def bind(condition: Expression): Expression = condition.transform {
    case c: BinaryComparison => c.withNewChildren(c.children.map(bound))
    case in: In => in.copy(list = in.list.map(bound))
  }

  private def bound(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && bindable(t) => BoundLiteral(v, t)
    case other => other
  }

  private def bindable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
