package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Custom `Generator` (the UDTF extension point SURVEY §2.9 reserves
  * for plugins that emit multiple rows): distinct word-n-gram shingles
  * of a document ([[Shingles.distinct]]), one OUTPUT ROW per shingle.
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
    with TextInput
    with CodegenFallback {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(Seq(StructField("sh", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    Shingles.distinct(v.asInstanceOf[UTF8String], n).iterator().asScala
      .map(sh => InternalRow(UTF8String.fromString(sh)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleGen {
  def shingle_gen(text: Column, n: Int): Column = column(ShingleGen(expression(text), n))
}
