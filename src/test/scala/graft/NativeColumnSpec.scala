package graft

import graft.ocsf.Landing
import graft.ops.{CorpusPipeline, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The Column API of the native expressions builds them directly: using
  * it writes nothing to a session's function registry, and only
  * [[GraftExtensions]] installs the SQL names. */
class NativeColumnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def functionNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  test("native Column builders leave a fresh session's function registry unchanged") {
    val s = spark.newSession()
    import s.implicits._
    val before = functionNames(s)

    // bound_value
    val finding = """{"severity": "High", "finding_info": {"uid": "u1", "title": "T"}}"""
    val landed  = Landing.prepare(s.read.json(Seq(finding).toDS())).collect()
    assert(landed.map(_.getAs[String]("finding_uid")).toSeq === Seq("u1"))

    // minhash_md5, shingle_set: the near-duplicate of doc 1 is dropped
    val base = "the data pipeline processes " + (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok40", "tokX")),
      (3L, "the unrelated corpus " + (100 to 140).map(i => s"w$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val kept = CorpusPipeline.prepare(docs, "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))

    // float_dot
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 3f, 4f)),
      (5L, Seq(1f, 0f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val norms = Similarity.withNorm(vecs, "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("nrm")).toMap
    assert(norms === Map(0L -> 1.0, 1L -> 1.0, 2L -> 5.0, 5L -> 1.0))

    // pq_encode + adc_score: the exact twin of id 5 ranks first
    val top = Similarity
      .pqAdcTopK(vecs, "vec_id", "embedding", k = 1, m = 2, ksub = 2,
        queryPred = col("vec_id") === 5)
      .collect()
    assert(top.map(_.getAs[Long]("n_id")).toSeq === Seq(0L))

    val added = functionNames(s) -- before
    assert(added.isEmpty, s"registered in the session: $added")
  }

  test("GraftExtensions.register installs exactly the ten SQL names, each resolving from SQL text") {
    val s      = spark.newSession()
    val before = functionNames(s)
    GraftExtensions.register(s)
    val names = Set("float_dot", "damerau_levenshtein", "jaro_winkler", "simhash32",
      "simhash64_md5", "lcs_len", "dtw_distance", "shingle_set_2", "shingle_set_3", "shingle_set_4")
    assert(functionNames(s) -- before === names)
    val r = s.sql(
      """SELECT float_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))),
        |  damerau_levenshtein('ab', 'ba'), jaro_winkler('abc', 'abc'),
        |  simhash32('a b c d'), simhash64_md5('a b c d'),
        |  lcs_len(array('a', 'b'), array('b')), dtw_distance(array(1L, 5L, 9L), array(1L, 9L), 2),
        |  shingle_set_2('a b c'), shingle_set_3('a b c'), shingle_set_4('a b c')""".stripMargin
    ).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 1)
    assert(r.getDouble(2) === 1.0)
    assert(r.getLong(3) !== 0L)
    assert((r.getLong(4) & 0xffffffffL) === r.getLong(3))
    assert(r.getLong(5) === 1L)
    assert(r.getLong(6) === 4L)
    assert(r.getSeq[String](7).toSet === Set("a b", "b c"))
    assert(r.getSeq[String](8) === Seq("a b c"))
    assert(r.getSeq[String](9).isEmpty)
  }
}
