package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison,
  Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types._

/** A literal that generated code reads from its `references` instead of
  * spelling it out. Spark inlines a primitive `Literal` into the Java text
  * (`value > 31` becomes `31.0D`), so two statements that differ only in a
  * threshold or a time bound compile two classes. This one reads its value
  * once per generated-class instance into a field, so the text — the key of
  * Spark's codegen cache — is the same for every value. It only ever
  * appears in physical plans: it is not foldable, and it prints as the
  * `Literal` it replaced, so plan strings do not change. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** The planner strategy that puts [[ParamLiteral]]s into the generated
  * operators. For a logical `Filter`, `Project` or `Aggregate` it takes the
  * plan the session's other strategies make, unchanged but for the
  * non-null primitive literals that are direct operands of a comparison or
  * of arithmetic inside its `FilterExec`, `ProjectExec` and
  * `HashAggregateExec` nodes. Scans keep their `Literal`s, so data and
  * partition filters, parquet pushdown and partition pruning see what they
  * saw before; strings and decimals already travel by reference in Spark's
  * generated code and are left alone. Streaming plans are not touched:
  * their planner runs strategies of its own first. Generated classes then
  * carry no data — the values travel per query in `references` — so only
  * code outlives a query. */
object ParamLiterals extends SparkStrategy {

  /** Prepend the strategy to the session's extra strategies, once. */
  def install(spark: SparkSession): Unit = synchronized {
    val x = spark.asInstanceOf[ClassicSession].experimental
    if (!x.extraStrategies.contains(this)) x.extraStrategies = this +: x.extraStrategies
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | _: Project | _: Aggregate if !plan.isStreaming =>
      // the planner keeps the first strategy that plans the node, so the
      // first of the others is the plan it would have made without this one
      ClassicSession.active.sessionState.planner.strategies.iterator
        .filterNot(_ eq this).map(_(plan)).find(_.nonEmpty).getOrElse(Nil)
        .map(_.transformUp {
          case p @ (_: FilterExec | _: ProjectExec | _: HashAggregateExec) =>
            p.transformExpressions { case op @ (_: BinaryComparison | _: BinaryArithmetic) =>
              op.withNewChildren(op.children.map(param))
            }
        })
    case _ => Nil
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t @ (IntegerType | LongType | DoubleType | FloatType | ShortType |
        ByteType | DateType | TimestampType | TimestampNTZType)) if v != null =>
      ParamLiteral(v, t)
    case other => other
  }
}
