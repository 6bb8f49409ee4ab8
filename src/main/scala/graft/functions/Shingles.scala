package graft.functions

import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** What a shingle is: a run of `n` word tokens (matches of
  * [[TokenRegex]]) joined by single spaces, kept distinct in
  * first-occurrence order. Every native text sketch shingles through
  * [[distinct]], [[graft.ops.Text.tokens]] tokenizes with the same
  * regex, and [[graft.plans.ShingleRewrite]] matches it. */
object Shingles {

  /** Word tokens: `\w+` runs, java.util.regex like `regexp_extract_all`. */
  val TokenRegex: String = "\\w+"

  private val tokenPattern = java.util.regex.Pattern.compile(TokenRegex)

  /** The distinct space-joined word `n`-grams of `text` in
    * first-occurrence order; empty when it has fewer than `n` tokens. */
  def distinct(text: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val m      = tokenPattern.matcher(text.toString)
    val tokens = new java.util.ArrayList[String]()
    while (m.find()) tokens.add(m.group())
    val out = new java.util.LinkedHashSet[String]()
    val sb  = new java.lang.StringBuilder
    var i   = 0
    while (i <= tokens.size - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens.get(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out
  }
}

/** The analysis-time check of the shingling expressions: one string
  * argument, so any other type fails analysis instead of throwing a
  * ClassCastException per row on the executors. */
trait TextInput extends ExpectsInputTypes {
  // type inferred: the declared element type is private to Spark's sql package
  override def inputTypes = Seq(StringType)
}
