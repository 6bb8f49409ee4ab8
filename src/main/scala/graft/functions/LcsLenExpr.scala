package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Longest-common-SUBSEQUENCE length between two token sequences
  * (`array<string>`) — the order-preserving overlap measure the
  * set-based family (Jaccard, containment) cannot express: shared
  * tokens count only when they appear in the SAME ORDER, which is what
  * distinguishes a quoted/templated passage from a bag-of-words
  * coincidence. Completes the alignment family: Damerau–Levenshtein /
  * Jaro–Winkler align characters, [[DtwExpr]] aligns magnitudes, LCS
  * aligns token streams.
  *
  * Exact integer result; null ELEMENTS never match (SQL equality
  * semantics), null/empty sides follow the standard convention (either
  * empty → 0; null input → NULL via the BinaryExpression null
  * contract).
  *
  * Scale shape: a scalar — O(n·m) time, O(m) space per row (the LCS
  * recurrence reaches back one row, so two rolling rows suffice — the
  * [[DtwExpr]] buffer discipline, unlike unrestricted Damerau's
  * arbitrary reach-back). Intended for post-blocking candidate pairs
  * over bounded token prefixes — never corpus × corpus, never
  * unbounded documents (slice the token arrays first; the DP is
  * quadratic in their lengths).
  */
case class LcsLenExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(StringType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"lcs_len requires two array<string> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}"
      )
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    LcsLenExpr.lcsLen(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LcsLenExpr.lcsLen($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

object LcsLenExpr {

  def lcs_len(a: Column, b: Column): Column = column(LcsLenExpr(expression(a), expression(b)))

  /** Two-rolling-row LCS DP over UTF8String tokens. Called from
    * generated code — must stay a static, allocation-local method. */
  def lcsLen(ad: ArrayData, bd: ArrayData): Long = {
    val n = ad.numElements()
    val m = bd.numElements()
    if (n == 0 || m == 0) return 0L
    val b = new Array[org.apache.spark.unsafe.types.UTF8String](m)
    var j = 0
    while (j < m) { b(j) = if (bd.isNullAt(j)) null else bd.getUTF8String(j); j += 1 }
    var prev = new Array[Long](m + 1)
    var cur  = new Array[Long](m + 1)
    var i = 1
    while (i <= n) {
      val av = if (ad.isNullAt(i - 1)) null else ad.getUTF8String(i - 1)
      j = 1
      while (j <= m) {
        cur(j) =
          if (av != null && b(j - 1) != null && av.equals(b(j - 1))) prev(j - 1) + 1L
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0L)
      i += 1
    }
    prev(m)
  }
}
