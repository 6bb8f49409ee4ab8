package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document 64-bit md5-twin SimHash as a single native
  * expression over the document's distinct 3-gram shingles
  * ([[Shingles.distinct]]) — the one-pass form of the relational
  * per-document vote aggregate over [[graft.ops.Dedup.shingleSets]]
  * (bit-equality asserted in FunctionsSpec, including the 0L of a
  * document with no shingles: no votes, no bits).
  *
  * Bit rule: bits 0–31 are each md5 hex nibble's top bit (value >= 8,
  * the 32-bit SimHash's bit rule, so that SimHash is this signature's
  * low word); bits 32–63 are each nibble's second bit
  * (value & 4) — 64 independent bit sources from one md5 per shingle.
  * The relational form costs a shingle explode plus a 64-sum aggregate
  * (a shuffle of every shingle row); this runs scan-local, making the
  * signature step of the oracle-twin 64-bit dedup map-only, like the
  * xxhash64 production path's.
  *
  * Heavy scalar work (regex + MessageDigest) gains nothing from
  * expression codegen — deliberately [[CodegenFallback]]; the
  * surrounding projection still codegens.
  */
case class SimHash64Md5Expr(child: Expression)
    extends UnaryExpression
    with TextInput
    with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val votes = new Array[Int](64)
    val md    = MessageDigest.getInstance("MD5")
    val it    = Shingles.distinct(input.asInstanceOf[UTF8String], 3).iterator()
    while (it.hasNext) {
      md.reset()
      val digest = md.digest(it.next().getBytes("UTF-8"))
      var pos = 0
      while (pos < 32) {
        val b      = digest(pos / 2) & 0xff
        val nibble = if (pos % 2 == 0) b >> 4 else b & 0xf
        votes(pos) += (if (nibble >= 8) 1 else -1)
        votes(32 + pos) += (if ((nibble & 4) != 0) 1 else -1)
        pos += 1
      }
    }
    var sig = 0L
    var pos = 0
    while (pos < 64) {
      if (votes(pos) > 0) sig |= 1L << pos
      pos += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64Md5Expr {
  def simhash64_md5(text: Column): Column = column(SimHash64Md5Expr(expression(text)))

  /** The 32-bit SimHash — each md5 hex nibble's top bit votes — is the
    * low word of [[simhash64_md5]]. */
  def simhash32(text: Column): Column = simhash64_md5(text).bitwiseAND(lit(0xFFFFFFFFL))
}
