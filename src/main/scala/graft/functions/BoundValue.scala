package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.DataType

/** The value of an expression over no column, evaluated once per plan
  * and handed to generated code through the generated class's
  * references array.
  *
  * A literal is inlined into generated code as text, so a plan that is
  * the same but for one constant (a new watermark, a new load
  * timestamp) generates a new class and pays a Janino compile on every
  * run. Through the references array the code text stays the same and
  * Spark's codegen cache serves the compiled class. The value is the
  * child's, computed after the optimizer has replaced
  * `current_timestamp()` by the query's timestamp.
  *
  * Deliberately not foldable: constant folding would turn it back into
  * an inlined literal. A literal's other uses go with it: a predicate
  * over it is not pushed into the parquet reader, so wrap only values
  * whose column has no usable statistics, and a partition column over
  * it is no longer constant, so a write partitioned by it sorts its
  * rows. Partition pruning still applies, since it evaluates any
  * deterministic partition predicate.
  */
case class BoundValue(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean  = child.nullable
  override def foldable: Boolean  = false

  // no column references: the value does not depend on the row
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.references.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"bound_value takes no column reference, got $child")

  @transient private lazy val value: Any = child.eval()

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
      val javaType = CodeGenerator.javaType(dataType)
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      ExprCode.forNonNullValue(JavaCode.expression(read, dataType))
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BoundValue {
  def bound_value(c: Column): Column = column(BoundValue(expression(c)))
}
