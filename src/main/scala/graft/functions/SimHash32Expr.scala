package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document 32-bit SimHash as a single native expression:
  * tokenize → distinct 3-gram shingles → md5 → nibble votes → signature,
  * in one JVM pass per row.
  *
  * Semantics are EXACTLY [[graft.ops.Dedup.simhash32]] over
  * [[graft.ops.Dedup.shingleSets]] (same `\w+` tokenizer — both run
  * java.util.regex — same space-joined shingles, same md5-nibble vote
  * rule), asserted bit-equal in FunctionsSpec. The relational form costs
  * an explode + two aggregations (shuffle of every shingle); this runs
  * scan-local with zero shuffles — the per-document signature step of a
  * 100 TB dedup becomes a map-only stage.
  *
  * A heavy scalar (regex + MessageDigest) gains nothing from expression
  * codegen, so it is deliberately [[CodegenFallback]]; the surrounding
  * projection still codegens.
  */
case class SimHash32Expr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  private val tokenRe = java.util.regex.Pattern.compile("\\w+")

  override def nullSafeEval(input: Any): Any = {
    val text    = input.asInstanceOf[UTF8String].toString
    val m       = tokenRe.matcher(text)
    val tokens  = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) tokens += m.group()
    if (tokens.length < 3) return 0L

    val shingles = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i <= tokens.length - 3) {
      shingles += s"${tokens(i)} ${tokens(i + 1)} ${tokens(i + 2)}"
      i += 1
    }

    val votes = new Array[Int](32)
    val md    = MessageDigest.getInstance("MD5")
    shingles.foreach { sh =>
      md.reset()
      val digest = md.digest(sh.getBytes("UTF-8"))
      var pos = 0
      while (pos < 32) {
        // hex nibble at position pos (0-based): high nibble of byte pos/2
        val b      = digest(pos / 2) & 0xff
        val nibble = if (pos % 2 == 0) b >> 4 else b & 0xf
        votes(pos) += (if (nibble >= 8) 1 else -1)
        pos += 1
      }
    }
    var sig = 0L
    var pos = 0
    while (pos < 32) {
      if (votes(pos) > 0) sig |= 1L << pos
      pos += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32Expr {
  def simhash32(text: Column): Column = column(SimHash32Expr(expression(text)))
}
