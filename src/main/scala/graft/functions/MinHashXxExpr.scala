package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Production-path whole-document k-seed xxhash64 MinHash signature in
  * one native pass — the xxhash64 twin of [[MinHashMd5Expr]], exactly
  * [[graft.ops.Dedup.minhashSignaturesXx]] over
  * [[graft.ops.Dedup.shingleSets]]: per seed s, the signed min over
  * the document's distinct `n`-gram shingles of
  * `xxhash64(s, shingle)` — computed with the very same
  * [[XxHash64Function]] the relational expression folds through
  * (seed-literal hash precomputed per seed), so signatures are
  * bit-equal by construction (asserted in FunctionsSpec).
  *
  * Returns NULL for documents with no shingles (< n tokens), mirroring
  * the relational pipeline's absent row; wrappers filter the nulls.
  *
  * Heavy scalar work gains nothing from expression codegen —
  * deliberately [[CodegenFallback]]; the surrounding projection still
  * codegens.
  */
case class MinHashXxExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression
    with TextInput
    with CodegenFallback {

  require(n >= 1, s"n must be >= 1, got $n")
  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean  = true

  // xxhash64(lit(s), sh) folds left from the expression's default seed
  // (42): h1 = hash(s: Int, 42), h2 = hash(sh, h1). h1 is a constant
  // per seed — precompute it.
  private val seedHashes: Array[Long] =
    Array.tabulate(k)(s => XxHash64Function.hash(s, IntegerType, 42L))

  override def nullSafeEval(input: Any): Any = {
    val shingles = Shingles.distinct(input.asInstanceOf[UTF8String], n)
    if (shingles.isEmpty) return null

    val mins = Array.fill(k)(Long.MaxValue)
    val it   = shingles.iterator()
    while (it.hasNext) {
      val u    = UTF8String.fromString(it.next())
      var seed = 0
      while (seed < k) {
        val h = XxHash64Function.hash(u, StringType, seedHashes(seed))
        if (h < mins(seed)) mins(seed) = h
        seed += 1
      }
    }
    new GenericArrayData(mins.map(java.lang.Long.valueOf(_)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashXxExpr {
  def minhash_xx(text: Column, n: Int, k: Int): Column =
    column(MinHashXxExpr(expression(text), n, k))
}
