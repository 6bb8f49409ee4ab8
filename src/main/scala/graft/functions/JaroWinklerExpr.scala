package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity (Winkler 1990) — the soft string-equality
  * score record-linkage systems rank candidate pairs with (prefix
  * agreement boosted, transposition-tolerant). Spark ships no Jaro
  * family; this is a native codegen-participating `BinaryExpression`
  * like [[DamerauLevenshteinExpr]].
  *
  * The arithmetic reproduces DuckDB's `jaro_winkler_similarity`
  * bit-for-bit on ASCII/single-byte input — IEEE evaluation order
  * `(m/l1 + m/l2 + (m−t)/m) / 3`, Winkler boost `j + (ℓ·0.1)·(1−j)`
  * applied only when j > 0.7 with ℓ = common prefix capped at 4, and
  * the empty-string convention `jw('', '') = 0` (NOT 1 — pinned by the
  * differential) — verified exactly equal on 3000 random ASCII pairs
  * plus the classic linkage examples. On multi-byte input DuckDB
  * scores BYTES while this expression scores code points; the oracle
  * contract is therefore single-byte text (nation/supplier-style
  * keys), documented rather than silently divergent.
  *
  * Scale shape: a scalar, O(|a|·|b|) per row, stateless — intended for
  * post-blocking candidate pairs, never corpus × corpus.
  */
case class JaroWinklerExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires two string arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}"
      )

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerExpr.similarity(
      a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString,
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (a, b) => s"graft.functions.JaroWinklerExpr.similarity($a.toString(), $b.toString())",
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr {

  def jaro_winkler(a: Column, b: Column): Column =
    column(JaroWinklerExpr(expression(a), expression(b)))

  /** Jaro similarity over code points; 0.0 when either side is empty
    * (including both — the DuckDB convention the oracle pins). */
  private def jaro(a: Array[Int], b: Array[Int]): Double = {
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0
    val md = math.max(l1, l2) / 2 - 1
    val f1 = new Array[Boolean](l1)
    val f2 = new Array[Boolean](l2)
    var m  = 0
    var i  = 0
    while (i < l1) {
      var j   = math.max(0, i - md)
      val hi  = math.min(i + md + 1, l2)
      var hit = false
      while (j < hi && !hit) {
        if (!f2(j) && a(i) == b(j)) { f1(i) = true; f2(j) = true; m += 1; hit = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (f1(i)) {
        while (!f2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    // exact IEEE order DuckDB uses: (m/l1 + m/l2 + (m-t)/m) / 3
    (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
  }

  /** Called from generated code — must stay a static method. */
  def similarity(sa: String, sb: String): Double = {
    val a = sa.codePoints().toArray
    val b = sb.codePoints().toArray
    val j = jaro(a, b)
    if (j > 0.7) {
      var l   = 0
      val cap = math.min(4, math.min(a.length, b.length))
      while (l < cap && a(l) == b(l)) l += 1
      j + (l * 0.1) * (1.0 - j)
    } else j
  }
}
