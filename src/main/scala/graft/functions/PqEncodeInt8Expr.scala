package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** One-pass native PQ encode: int8-quantize the embedding and emit its
  * `m` nearest-codebook-entry indices in a single scan-local JVM pass —
  * the [[MinHashMd5Expr]] treatment applied to product quantization.
  *
  * Semantics are EXACTLY `Similarity.quantizeInt8` followed by the
  * per-subspace integer-L2 argmin with ties to the smaller code_id
  * (the `min(struct(dist, code_id))` form): scale = max|x_i| in
  * double, q_i = floor(x_i·127/scale + 0.5) with the zero-scale guard,
  * distances and comparisons all integer — bit-reproducible, which is
  * what lets the DuckDB oracle replay the encode.
  *
  * Why an expression and not higher-order functions: the codebook fits
  * in a literal, but HOF lambdas are interpreted and projection
  * collapse inlines the quantize transform into the nested argmin
  * fold, re-evaluating it m×ksub times per row. Here quantization runs
  * once and the argmin is three tight integer loops (m×ksub×dsub
  * multiplies per vector). The codebook rides in the expression
  * instance — m×ksub×dsub longs, a few KB by PQ construction,
  * independent of corpus size.
  *
  * The encode stage of every PQ entry point is therefore map-only:
  * no subvector explode, no broadcast join, no argmin exchange — at
  * 100 TB, a zero-shuffle projection over the corpus scan instead of
  * two N·m-row exchanges.
  */
case class PqEncodeInt8Expr(child: Expression, codebook: Array[Array[Array[Long]]])
    extends UnaryExpression
    with CodegenFallback {

  require(codebook.nonEmpty && codebook.forall(_.nonEmpty), "codebook must be m×ksub×dsub")
  private val m    = codebook.length
  private val ksub = codebook(0).length
  private val dsub = codebook(0)(0).length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean  = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    require(dim == m * dsub, s"embedding dim $dim != m*dsub = ${m * dsub}")

    // quantize once (Similarity.quantizeInt8 parity: double widening,
    // zero-scale guard, floor(x·127/scale + 0.5))
    var maxabs = 0.0
    var i      = 0
    while (i < dim) {
      val a = math.abs(arr.getFloat(i).toDouble)
      if (a > maxabs) maxabs = a
      i += 1
    }
    val denom = if (maxabs == 0.0) 1.0 else maxabs
    val q     = new Array[Long](dim)
    i = 0
    while (i < dim) {
      q(i) = math.floor(arr.getFloat(i).toDouble * 127.0 / denom + 0.5).toLong
      i += 1
    }

    // per-subspace integer-L2 argmin, ties to the smaller code_id
    // (ascending k with strict less-than)
    val codes = new Array[Any](m)
    var s     = 0
    while (s < m) {
      val off   = s * dsub
      val sub   = codebook(s)
      var bestD = Long.MaxValue
      var bestC = -1
      var k     = 0
      while (k < ksub) {
        val entry = sub(k)
        var d     = 0L
        var j     = 0
        while (j < dsub) {
          val diff = q(off + j) - entry(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = k }
        k += 1
      }
      codes(s) = bestC
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncodeInt8Expr {

  /** Column builder; the codebook rides in the expression instance. */
  def pq_encode(emb: Column, codebook: Array[Array[Array[Long]]]): Column =
    column(PqEncodeInt8Expr(expression(emb), codebook))
}
