package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-n-gram shingle set of a document as one native pass:
  * tokenize (`\w+`, same java.util.regex engine as
  * `regexp_extract_all`), space-join n consecutive tokens, dedupe in
  * first-occurrence order.
  *
  * Set-equal to `array_distinct(Text.shingles(Text.tokens(text), n))` —
  * asserted in FunctionsSpec — but those built-ins run through the
  * interpreted higher-order-function evaluator (a closure call and an
  * InternalRow per element), which profiling showed dominating every
  * fuzzy-dedup operator. Heavy regex scalar ⇒ deliberate
  * [[CodegenFallback]] (nothing to gain from expression codegen).
  */
case class ShingleSetExpr(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val tokenRe = java.util.regex.Pattern.compile("\\w+")

  override def nullSafeEval(input: Any): Any = {
    val text   = input.asInstanceOf[UTF8String].toString
    val m      = tokenRe.matcher(text)
    val tokens = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) tokens += m.group()
    if (tokens.length < n) return new GenericArrayData(Array.empty[Any])

    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i    = 0
    val sb   = new java.lang.StringBuilder()
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it  = seen.iterator()
    var k   = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSetExpr {
  def shingle_set(text: Column, n: Int): Column = column(ShingleSetExpr(expression(text), n))
}
