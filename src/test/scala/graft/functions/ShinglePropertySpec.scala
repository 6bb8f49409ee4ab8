package graft.functions

import graft.SparkTestBase
import graft.ops.{Dedup, Reference, Text}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array_distinct, col, explode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Every native text sketch shingles through [[Shingles.distinct]]; the
  * rewrites and the oracle-gated queries rely on it agreeing with the
  * composed built-ins ([[Text.tokens]], [[Text.shingles]]) and on each
  * sketch agreeing with its relational pipeline. Generated small
  * documents mix ASCII words, non-ASCII letters (which `\w` does not
  * match, so they split tokens), punctuation and whitespace runs, the
  * empty string and null, with shingle sizes 1 to 4. */
class ShinglePropertySpec extends AnyFunSuite {
  // a fresh session: the composed forms must not be rewritten into the
  // native generator they are checked against
  private lazy val spark = {
    val s = SparkTestBase.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 1L)
    s
  }

  private val pieceG: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "to", "x_1", "42", "Data", "_"),
    2 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString),
    2 -> Gen.oneOf("é", "日本", "Ωmega", "naïve", "ß"),
    6 -> Gen.oneOf(" ", "  ", "\t", "\n ", ", ", "...", "-", "'", "!? "),
  )

  private val textG: Gen[Option[String]] = Gen.frequency(
    8 -> Gen.choose(0, 24).flatMap(Gen.listOfN(_, pieceG)).map(ps => Some(ps.mkString)),
    1 -> Gen.const(Some("")),
    1 -> Gen.const(None),
  )

  private val caseG: Gen[(Int, List[Option[String]])] = for {
    n    <- Gen.choose(1, 4)
    m    <- Gen.choose(1, 8)
    docs <- Gen.listOfN(m, textG)
  } yield (n, docs)

  private def frame(texts: Seq[Option[String]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
    )

  private def byDoc(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  /** Every doc with a relational row equals it; a doc without one (no
    * shingles, or null text) gets `absent` from the native form. */
  private def agrees(native: Map[Long, Seq[Any]], relational: Map[Long, Seq[Any]], absent: Seq[Any]): Prop =
    Prop.all(native.toSeq.map { case (id, got) =>
      val want = relational.getOrElse(id, absent)
      Prop(got == want).label(s"doc $id: native $got, relational $want")
    }: _*)

  private def check(n: Int, texts: Seq[Option[String]]): Prop = {
    val docs = frame(texts)
    val text = col("text")

    val sets = docs
      .select(
        col("doc_id"),
        ShingleSetExpr.shingle_set(text, n),
        array_distinct(Text.shingles(Text.tokens(text), n)),
      )
      .collect()
    val setProp = Prop.all(sets.toSeq.map { r =>
      val (native, composed) = (Option(r.getSeq[String](1)), Option(r.getSeq[String](2)))
      Prop(native == composed).label(s"shingle_set n=$n of ${texts(r.getLong(0).toInt)}: $native != $composed")
    }: _*)

    val gen      = docs.select(col("doc_id"), ShingleGen.shingle_gen(text, n)).collect().toSeq
    val exploded = docs.select(col("doc_id"), explode(ShingleSetExpr.shingle_set(text, n))).collect().toSeq
    val genProp  = Prop(gen == exploded).label(s"shingle_gen $gen != explode(shingle_set) $exploded")

    val composed = Reference.shingleSetsComposed(docs, "doc_id", "text", n)
    val k        = 4
    val mh = agrees(
      byDoc(Dedup.minhashSignaturesNative(docs, "doc_id", "text", n, k)),
      byDoc(Reference.minhashSignatures(composed, k)),
      absent = Nil,
    ).label("minhash_md5")

    // SimHash shingles are always 3-grams; a shingle-less doc signs 0,
    // a null one is null
    val nonNull   = docs.filter(text.isNotNull)
    val trigrams  = Reference.shingleSetsComposed(nonNull, "doc_id", "text", 3)
    val sh64 = agrees(
      byDoc(nonNull.select(col("doc_id"), SimHash64Md5Expr.simhash64_md5(text))),
      byDoc(Reference.simhash64Md5(trigrams).select("doc_id", "simhash")),
      absent = Seq(0L),
    ).label("simhash64_md5")
    val sh32 = agrees(
      byDoc(nonNull.select(col("doc_id"), SimHash64Md5Expr.simhash32(text))),
      byDoc(Reference.simhash32(trigrams).select("doc_id", "simhash")),
      absent = Seq(0L),
    ).label("simhash32")
    val nulls = docs.filter(text.isNull)
      .select(SimHash64Md5Expr.simhash64_md5(text), SimHash64Md5Expr.simhash32(text))
      .collect()
    val nullProp = Prop(nulls.forall(r => r.isNullAt(0) && r.isNullAt(1))).label("null text signs null")

    setProp && genProp && mh && sh64 && sh32 && nullProp
  }

  test("native shingling and sketches equal the composed built-ins and relational pipelines") {
    val params = Test.Parameters.default.withMinSuccessfulTests(10).withInitialSeed(Seed(7L))
    val res    = Test.check(params, Prop.forAll(caseG) { case (n, texts) => check(n, texts) })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
