package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns, accumulated
  * left-to-right in double precision.
  *
  * This is the codegen'd fast path for embedding similarity: the
  * equivalent `aggregate(zip_with(...))` composition is evaluated by the
  * interpreted higher-order-function machinery (one closure call and one
  * InternalRow per element), while this compiles to a tight primitive
  * loop inside WholeStageCodegen. Accumulation order and widening match
  * the fold exactly, so results are bit-identical to the composed form
  * (and to the DuckDB oracle's `list_reduce` left fold).
  *
  * SQL function `float_dot` (see [[graft.GraftExtensions]]); the Column
  * API [[FloatVecDot.float_dot]] builds the expression directly.
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // getFloat reinterprets raw bytes, so anything but array<float> must
  // fail analysis rather than silently return garbage doubles.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"float_dot requires two array<float> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}"
      )
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i   = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        // Fresh names: with non-nullable inputs the block is inlined
        // unbraced at method scope, so two float_dot calls in one stage
        // would otherwise declare duplicate locals and break Janino.
        val n   = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val i   = ctx.freshName("i")
        s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
        |}
        |${ev.value} = $acc;
        |""".stripMargin
      },
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  def float_dot(a: Column, b: Column): Column = column(FloatVecDot(expression(a), expression(b)))
}
