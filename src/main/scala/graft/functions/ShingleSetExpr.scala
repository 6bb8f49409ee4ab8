package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Distinct word-n-gram shingle set of a document as one native pass
  * ([[Shingles.distinct]], first-occurrence order).
  *
  * Equal to `array_distinct(Text.shingles(Text.tokens(text), n))` —
  * asserted in FunctionsSpec and ShinglePropertySpec — but those
  * built-ins run through the interpreted higher-order-function
  * evaluator (a closure call and an InternalRow per element), which
  * profiling showed dominating every fuzzy-dedup operator. Heavy regex
  * scalar ⇒ deliberate [[CodegenFallback]] (nothing to gain from
  * expression codegen).
  */
case class ShingleSetExpr(child: Expression, n: Int)
    extends UnaryExpression
    with TextInput
    with CodegenFallback {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val seen = Shingles.distinct(input.asInstanceOf[UTF8String], n)
    new GenericArrayData(seen.iterator().asScala.map(UTF8String.fromString).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSetExpr {
  def shingle_set(text: Column, n: Int): Column = column(ShingleSetExpr(expression(text), n))
}
