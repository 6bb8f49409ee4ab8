package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom `Generator` (the UDTF extension point SURVEY §2.9 reserves
  * for plugins that emit multiple rows): distinct word-n-gram shingles
  * of a document, one OUTPUT ROW per shingle, in one native pass.
  *
  * Row-equal to `explode(shingle_set_n(text))` ([[ShingleSetExpr]],
  * asserted in FunctionsSpec) but emits rows directly instead of
  * materializing the full shingle array per document first — for a
  * 100-page document that array is tens of KB per row held across the
  * explode boundary; the generator streams it. This is the preferred
  * shape for the corpus-scale shingling pass feeding every fuzzy-dedup
  * operator.
  */
case class ShingleGen(child: Expression, n: Int)
    extends UnaryExpression
    with Generator
    with CodegenFallback {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(Seq(StructField("sh", StringType, nullable = false)))

  // a non-string child must fail analysis, not throw ClassCastException
  // per row on the executors
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_gen requires a string argument, got ${child.dataType.simpleString}"
      )

  private val tokenRe = java.util.regex.Pattern.compile("\\w+")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val text   = v.asInstanceOf[UTF8String].toString
    val m      = tokenRe.matcher(text)
    val tokens = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) tokens += m.group()
    if (tokens.length < n) return Iterator.empty

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
    val it = seen.iterator()
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = InternalRow(it.next())
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleGen {
  def shingle_gen(text: Column, n: Int): Column = column(ShingleGen(expression(text), n))
}
