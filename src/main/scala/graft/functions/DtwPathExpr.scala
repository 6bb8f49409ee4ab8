package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types._

/** The optimal banded-DTW WARPING PATH between two `array<bigint>`
  * series — [[DtwExpr]]'s alignment made explicit, the ingredient DTW
  * barycenter averaging (Petitjean et al., Pattern Recognition 2011)
  * consumes: DBA's update step averages, per barycenter coordinate i,
  * every member value aligned to i, and "aligned" is exactly this
  * path.
  *
  * Same DP as [[DtwExpr.distance]] (|Δ| costs, Sakoe–Chiba band
  * max(w, |n−m|), ∞ = Long.MaxValue/4) but with the FULL (n+1)×(m+1)
  * matrix retained — the path needs to walk back through it, so the
  * rolling-row trick does not apply; callers owe the same bounded-
  * series contract (resampled grids, never raw event streams). The
  * backtrack from (n, m) is PINNED for cross-engine replay: at each
  * cell take the minimum predecessor with tie order diag → up → left
  * (diag = both advance, up = i advances, left = j advances). Ties DO
  * occur on real integer series, so the order is part of the
  * operator's contract, mirrored verbatim in the oracle's backtrack
  * CASE.
  *
  * Returns `array<struct<i int, j int>>` — the path cells in forward
  * order, 1-indexed, from (1,1) to (n,m). Degenerates mirror
  * [[DtwExpr]]: both empty → empty path; one empty → NULL.
  */
case class DtwPathExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DtwPathExpr.pathType

  override def checkInputDataTypes(): TypeCheckResult = {
    def series(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (series(first.dataType) && series(second.dataType) && third.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dtw_path requires (array<bigint>, array<bigint>, int), got " +
          s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString}"
      )
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, w: Any): Any =
    DtwPathExpr.path(
      a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData],
      w.asInstanceOf[Int],
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b, w) => s"""
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}$$p =
        |  graft.functions.DtwPathExpr.path($a, $b, $w);
        |if (${ev.value}$$p == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = ${ev.value}$$p; }
        |""".stripMargin,
    )

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression,
  ): Expression = copy(first = newFirst, second = newSecond, third = newThird)
}

object DtwPathExpr {

  val pathType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
    )),
    containsNull = false,
  )

  def dtw_path(a: Column, b: Column, w: Column): Column =
    column(DtwPathExpr(expression(a), expression(b), expression(w)))

  private val Inf = Long.MaxValue / 4

  /** Full-matrix banded DP + pinned backtrack; static for codegen. */
  def path(ad: ArrayData, bd: ArrayData, w: Int): ArrayData = {
    val n = ad.numElements()
    val m = bd.numElements()
    if (n == 0 && m == 0) return new GenericArrayData(Array.empty[Any])
    if (n == 0 || m == 0) return null
    val a    = ad.toLongArray()
    val b    = bd.toLongArray()
    val band = math.max(if (w < 0) 0 else w, math.abs(n - m))
    val W    = m + 1
    val dp   = new Array[Long]((n + 1) * W)
    java.util.Arrays.fill(dp, Inf)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - band)
      val hi = math.min(m, i + band)
      var j  = lo
      while (j <= hi) {
        val d    = a(i - 1) - b(j - 1)
        val cost = if (d < 0) -d else d
        var best = dp((i - 1) * W + j)
        if (dp((i - 1) * W + (j - 1)) < best) best = dp((i - 1) * W + (j - 1))
        if (dp(i * W + (j - 1)) < best) best = dp(i * W + (j - 1))
        dp(i * W + j) = cost + best
        j += 1
      }
      i += 1
    }
    // backtrack (n, m) → (1, 1); tie order diag → up → left — pinned,
    // mirrored in the oracle's backtrack CASE
    var ci  = n
    var cj  = m
    var rev = List.empty[InternalRow]
    rev ::= InternalRow(ci, cj)
    while (ci > 1 || cj > 1) {
      val dg = dp((ci - 1) * W + (cj - 1))
      val up = dp((ci - 1) * W + cj)
      val lf = dp(ci * W + (cj - 1))
      if (dg <= up && dg <= lf) { ci -= 1; cj -= 1 }
      else if (up <= lf) { ci -= 1 }
      else { cj -= 1 }
      rev ::= InternalRow(ci, cj)
    }
    new GenericArrayData(rev.toArray[Any])
  }
}
