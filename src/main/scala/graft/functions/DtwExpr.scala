package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Banded Dynamic Time Warping distance (Sakoe–Chiba 1978) between two
  * `array<bigint>` series with per-step cost |aᵢ − bⱼ| — the
  * edit-distance family's member for NUMERIC sequences (Damerau–
  * Levenshtein / Jaro–Winkler align symbols; DTW aligns magnitudes
  * under local time warping, the standard similarity for activity
  * curves, load shapes, and seasonality profiles).
  *
  * The third argument is the Sakoe–Chiba band radius `w`: cells with
  * |i − j| > max(w, |n − m|) are unreachable (the |n−m| widening is the
  * standard adjustment — without it no monotone path exists when the
  * lengths differ by more than the band). The band bounds work at
  * O(n·w) and — more importantly at scale — keeps a pathological pair
  * of long series from degrading to full quadratic alignment.
  *
  * EXACT INTEGERS end to end: costs are |Δ| sums in BIGINT (no float
  * accumulation, no sqrt), so the statistic is bit-replayable by an
  * oracle walking the identical DP. Reachable-cost bound:
  * (n+m)·max|Δ|, far under overflow for any realistic integral series;
  * the internal ∞ sentinel is Long.MaxValue/4 so one `+ cost` cannot
  * wrap.
  *
  * Degenerate inputs follow the alignment semantics: both series empty
  * → 0 (the empty alignment); exactly one empty → NULL (no alignment
  * exists — mirrored by the oracle's NULL row). Array ELEMENTS must be
  * non-null (the [[FloatVecDot]] contract: a null slot reads as
  * undefined storage, it is the caller's to clean).
  *
  * Scale shape: a scalar — O(min(n·m, n·w)) per row, no state across
  * rows. Intended for bounded per-entity series (hourly/daily grids,
  * the [[graft.ops.Timeseries]] resample outputs), joined pairwise
  * AFTER blocking or on dimension-sized key sets — never corpus ×
  * corpus.
  */
case class DtwExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def series(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (series(first.dataType) && series(second.dataType) && third.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dtw_distance requires (array<bigint>, array<bigint>, int), got " +
          s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString}"
      )
  }

  // one empty side has no alignment: the distance is NULL, which a
  // TernaryExpression must surface via nullable + eval returning null
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, w: Any): Any =
    DtwExpr.distance(
      a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData],
      w.asInstanceOf[Int],
    )

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b, w) => s"""
        |java.lang.Long ${ev.value}$$box = graft.functions.DtwExpr.distance($a, $b, $w);
        |if (${ev.value}$$box == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = ${ev.value}$$box.longValue(); }
        |""".stripMargin,
    )

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression,
  ): Expression = copy(first = newFirst, second = newSecond, third = newThird)
}

object DtwExpr {

  def dtw_distance(a: Column, b: Column, w: Column): Column =
    column(DtwExpr(expression(a), expression(b), expression(w)))

  private val Inf = Long.MaxValue / 4

  /** Banded DP with two rolling rows (DTW's recurrence only reaches
    * back one row, unlike the unrestricted Damerau transposition arm,
    * so the O(m) buffer is sound). Boxed return carries the
    * one-empty-side NULL; called from generated code — must stay a
    * static, allocation-local method. */
  def distance(ad: ArrayData, bd: ArrayData, w: Int): java.lang.Long = {
    val n = ad.numElements()
    val m = bd.numElements()
    if (n == 0 && m == 0) return java.lang.Long.valueOf(0L)
    if (n == 0 || m == 0) return null
    val a    = ad.toLongArray()
    val b    = bd.toLongArray()
    val band = math.max(if (w < 0) 0 else w, math.abs(n - m))
    var prev = new Array[Long](m + 1)
    var cur  = new Array[Long](m + 1)
    java.util.Arrays.fill(prev, Inf)
    prev(0) = 0L
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, Inf)
      val lo = math.max(1, i - band)
      val hi = math.min(m, i + band)
      var j  = lo
      while (j <= hi) {
        val d    = a(i - 1) - b(j - 1)
        val cost = if (d < 0) -d else d
        var best = prev(j) // insertion (advance i)
        if (prev(j - 1) < best) best = prev(j - 1) // match (advance both)
        if (cur(j - 1) < best) best = cur(j - 1)   // deletion (advance j)
        cur(j) = cost + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    java.lang.Long.valueOf(prev(m))
  }
}
