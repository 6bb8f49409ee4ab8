package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** ADC table lookup as one native fold: given a candidate's m PQ codes
  * and a query's m×ksub partial-dot LUT, the score is
  * `Σ_s lut[s][codes[s]]` — m array lookups and adds per
  * (candidate, query) pair, the classic asymmetric-distance scan
  * kernel (Jégou et al.).
  *
  * Replaces the relational form (explode m code rows per candidate,
  * equi-join the LUT on (sub_id, code_id), SUM-aggregate back to one
  * row per pair): same integer sum — addition order differs but
  * integer addition is order-free, so results are bit-identical — with
  * zero Generate, zero aggregate, and one joined row per pair instead
  * of m. Stateless, so one registry name serves every codebook. */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean  = true

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut   = lutAny.asInstanceOf[ArrayData]
    val m     = codes.numElements()
    require(lut.numElements() == m, s"LUT has ${lut.numElements()} subspaces, codes $m")
    var acc = 0L
    var s   = 0
    while (s < m) {
      acc += lut.getArray(s).getLong(codes.getInt(s))
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object AdcScoreExpr {
  def adc_score(codes: Column, lut: Column): Column =
    column(AdcScoreExpr(expression(codes), expression(lut)))
}
