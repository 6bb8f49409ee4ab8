package graft.functions

import java.security.MessageDigest
import java.util.HexFormat
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document k-seed md5 MinHash signature as a single native
  * expression: distinct `n`-gram shingles ([[Shingles.distinct]]) →
  * per seed s the min of md5("s:" + shingle) hex — one JVM pass per
  * row, the same one-pass treatment [[SimHash64Md5Expr]] gives SimHash.
  * Semantics are EXACTLY the relational per-seed
  * `min(md5(seed ':' sh))` aggregate over
  * [[graft.ops.Dedup.shingleSets]] (same shingles, same seed-prefix
  * hash; min over lowercase hex strings — ASCII, so JVM String ordering
  * and Spark's UTF8 binary min agree), asserted bit-equal in
  * FunctionsSpec.
  *
  * The relational form explodes every shingle and runs a k-way min
  * hash-aggregate (map-side combined, but still a k·|shingles| row
  * stream through the aggregate); this computes the same mins
  * scan-local, making the signature step of MinHash-LSH map-only.
  *
  * Returns NULL for documents with no shingles (< n tokens) —
  * mirroring the relational pipeline, where such documents simply have
  * no signature row; wrappers filter the nulls out.
  *
  * Heavy scalar work (regex + MessageDigest) gains nothing from
  * expression codegen — deliberately [[CodegenFallback]]; the
  * surrounding projection still codegens.
  */
case class MinHashMd5Expr(child: Expression, n: Int, k: Int)
    extends UnaryExpression
    with TextInput
    with CodegenFallback {

  require(n >= 1, s"n must be >= 1, got $n")
  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean  = true

  // "<seed>:" prefixes, built once — the per-(shingle, seed) digest is
  // md.update(prefix) + md.update(shingleBytes), no string allocation
  // in the hot loop.
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(k)(s => s"$s:".getBytes("UTF-8"))

  /** Unsigned lexicographic byte compare — identical ordering to the
    * lowercase-hex string compare the relational `min(md5(...))` does
    * (each byte maps monotonically to its two hex chars). Hand-written:
    * it runs once per (shingle, seed), and most digests differ in their
    * first byte. */
  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any = {
    val shingles = Shingles.distinct(input.asInstanceOf[UTF8String], n)
    if (shingles.isEmpty) return null

    val mins = new Array[Array[Byte]](k)
    val md   = MessageDigest.getInstance("MD5")
    val it   = shingles.iterator()
    while (it.hasNext) {
      val shB  = it.next().getBytes("UTF-8")
      var seed = 0
      while (seed < k) {
        md.reset()
        md.update(seedPrefixes(seed))
        md.update(shB)
        val digest = md.digest()
        if (mins(seed) == null || ltUnsigned(digest, mins(seed))) mins(seed) = digest
        seed += 1
      }
    }
    val hex = HexFormat.of()
    new GenericArrayData(mins.map(d => UTF8String.fromString(hex.formatHex(d))).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashMd5Expr {
  def minhash_md5(text: Column, n: Int, k: Int): Column =
    column(MinHashMd5Expr(expression(text), n, k))
}
