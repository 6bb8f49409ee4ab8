package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unrestricted Damerau–Levenshtein edit distance (Lowrance–Wagner
  * 1975): insert / delete / substitute / transpose-adjacent, where a
  * transposed pair may be edited BETWEEN the swap — `CA → ABC` is 2
  * (unlike the restricted OSA variant's 3). That is the variant
  * DuckDB's `damerau_levenshtein` implements, so the oracle
  * differential is exact; it is also the standard typo metric for
  * entity resolution (swapped letters are the most common keyboard
  * error class, charged 1 instead of Levenshtein's 2).
  *
  * Spark ships `levenshtein` but no transposition-aware distance;
  * composing one from builtins is impossible (the DP needs per-symbol
  * last-occurrence state), so this is a native `BinaryExpression` —
  * codegen participates via a static-method call, keeping callers
  * inside whole-stage codegen like [[FloatVecDot]].
  *
  * Operates on Unicode code points (surrogate pairs count once),
  * matching DuckDB's code-point semantics on the BMP+ range.
  *
  * Scale shape: a scalar — cost is O(|a|·|b|) per row with no state
  * across rows; skew/partitioning concerns don't apply. Intended for
  * post-blocking candidate pairs (e.g. [[graft.ops.Blocking]] SNM
  * windows), never corpus × corpus.
  */
case class DamerauLevenshteinExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"damerau_levenshtein requires two string arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}"
      )

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshteinExpr.distance(
      a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString,
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (a, b) =>
        s"graft.functions.DamerauLevenshteinExpr.distance($a.toString(), $b.toString())",
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

object DamerauLevenshteinExpr {

  def damerau_levenshtein(a: Column, b: Column): Column =
    column(DamerauLevenshteinExpr(expression(a), expression(b)))

  /** Lowrance–Wagner DP over code points. The `h` matrix (flat
    * row-major — ONE allocation, sequential access) has a −1th
    * row/column of ∞ sentinels (index shift +1) so the transposition
    * arm `h(i1-1)(j1-1) + (i-i1-1) + 1 + (j-j1-1)` needs no bounds
    * checks; `da` tracks the last row where each symbol occurred —
    * an unboxed 128-slot array for ASCII (the overwhelming case on
    * entity keys) with a HashMap allocated LAZILY only when a
    * non-ASCII code point actually appears, so the per-row boxed-map
    * GC pressure the hot post-blocking path used to pay is gone.
    * The full matrix is required — unlike the restricted OSA variant,
    * the unrestricted transposition arm reaches back to arbitrary
    * (i1, j1), so a two-row rolling buffer cannot express it. Called
    * from generated code — must stay a static, allocation-local
    * method. */
  def distance(sa: String, sb: String): Int = {
    val a = sa.codePoints().toArray
    val b = sb.codePoints().toArray
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    val w   = m + 2
    val h   = new Array[Int]((n + 2) * w)
    h(0) = inf
    var i = 0
    while (i <= n) { h((i + 1) * w) = inf; h((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= m) { h(j + 1) = inf; h(w + j + 1) = j; j += 1 }
    val daAscii                                       = new Array[Int](128)
    var daWide: java.util.HashMap[Integer, Integer]   = null
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val bc = b(j - 1)
        val i1 =
          if (bc < 128) daAscii(bc)
          else if (daWide == null) 0
          else daWide.getOrDefault(bc, 0).intValue()
        val j1   = db
        var cost = 1
        if (a(i - 1) == bc) { cost = 0; db = j }
        val sub   = h(i * w + j) + cost
        val ins   = h((i + 1) * w + j) + 1
        val del   = h(i * w + j + 1) + 1
        val trans = h(i1 * w + j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        h((i + 1) * w + j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
        j += 1
      }
      val ac = a(i - 1)
      if (ac < 128) daAscii(ac) = i
      else {
        if (daWide == null) daWide = new java.util.HashMap[Integer, Integer]()
        daWide.put(ac, i)
        ()
      }
      i += 1
    }
    h((n + 1) * w + m + 1)
  }
}
