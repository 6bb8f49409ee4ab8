package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, Expression, ExpressionInfo, Literal}

/** Engine extensions, injected via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`: the optimizer rules
  * and the SQL surface of the native expressions. The Column API
  * (`graft.functions`) builds its expressions directly and needs
  * neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.ShingleRewrite)
    e.injectOptimizerRule(_ => graft.plans.EditDistancePrefilter)
    GraftExtensions.sqlFunctions.foreach(e.injectFunction)
  }
}

object GraftExtensions {

  /** The native expressions callable from SQL text, by name. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    Seq(
      fn("float_dot", classOf[FloatVecDot])(e => FloatVecDot(e(0), e(1))),
      fn("damerau_levenshtein", classOf[DamerauLevenshteinExpr])(e =>
        DamerauLevenshteinExpr(e(0), e(1))
      ),
      fn("jaro_winkler", classOf[JaroWinklerExpr])(e => JaroWinklerExpr(e(0), e(1))),
      fn("simhash32", classOf[SimHash64Md5Expr])(e =>
        BitwiseAnd(SimHash64Md5Expr(e(0)), Literal(0xFFFFFFFFL))
      ),
      fn("simhash64_md5", classOf[SimHash64Md5Expr])(e => SimHash64Md5Expr(e(0))),
      fn("lcs_len", classOf[LcsLenExpr])(e => LcsLenExpr(e(0), e(1))),
      fn("dtw_distance", classOf[DtwExpr])(e => DtwExpr(e(0), e(1), e(2))),
    ) ++ Seq(2, 3, 4).map(n =>
      fn(s"shingle_set_$n", classOf[ShingleSetExpr])(e => ShingleSetExpr(e(0), n))
    )
  }

  /** Installs [[sqlFunctions]] into a session built without the
    * extensions (`withExtensions` only takes effect on a new session). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
