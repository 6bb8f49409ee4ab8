package graft.functions

import graft.SparkTestBase
import graft.ops.{Dedup, Reference}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native expressions must be drop-in equal to their composed-builtin
  * twins — that equivalence is what lets the fast path serve
  * oracle-checked queries.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("TopKAgg: bounded-state top-k equals the window form; hot group stays k-bounded") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val viaAgg = orders
      .groupBy("o_custkey")
      .agg(TopKAgg.top_k_ids(3)(col("o_orderkey"), col("o_totalprice")).as("ids"))
      .collect()
      .map(r => r.getAs[Long]("o_custkey") -> r.getAs[Seq[Long]]("ids").toList)
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("o_custkey")
      .agg(collect_list(struct(col("rn"), col("o_orderkey"))).as("xs"))
      .collect()
      .map { r =>
        r.getAs[Long]("o_custkey") ->
          r.getAs[Seq[org.apache.spark.sql.Row]]("xs").sortBy(_.getInt(0)).map(_.getLong(1)).toList
      }
      .toMap
    assert(viaAgg === viaWindow)

    // one hot group across many partitions: result is exact and ordered
    // even though no buffer ever holds more than k entries
    val hot = spark.range(100000).select(lit(1L).as("g"), col("id"), (col("id") % 97).cast("double").as("s"))
    val top = hot.groupBy("g").agg(TopKAgg.top_k_ids(2)(col("id"), col("s")).as("ids"))
      .head().getAs[Seq[Long]]("ids").toList
    // score 96.0 is shared by ids 96, 193, 290... -> smallest two ids win
    assert(top === List(96L, 193L))
  }

  test("TopKAgg.top_k_entries: same buffer, entries carry the scores") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0)).toDF("id", "s")
    val got = df
      .agg(TopKAgg.top_k_entries(3)(col("id"), col("s")).as("top"))
      .head()
      .getAs[Seq[org.apache.spark.sql.Row]]("top")
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toList
    // (score desc, id asc): the 9.0 tie orders 2 before 3
    assert(got === List((2L, 9.0), (3L, 9.0), (1L, 5.0)))
  }

  test("ShingleGen generator rows equal the shingle_set+explode form on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaGen = docs.select(col("doc_id"), ShingleGen.shingle_gen(col("text"), 3).as("sh"))
    // explicitly the ARRAY expression + explode — Dedup.shingleSets now
    // routes through the generator itself, so comparing against it
    // would be a tautology
    val viaSet = docs.select(
      col("doc_id"),
      explode(ShingleSetExpr.shingle_set(col("text"), 3)).as("sh"),
    )
    assert(viaGen.exceptAll(viaSet).isEmpty && viaSet.exceptAll(viaGen).isEmpty)
    assert(viaGen.count() > 0)
    // null / too-short text emits no rows (and no nulls)
    val edge = Seq((1L, null: String), (2L, "a b")).toDF("doc_id", "text")
    assert(edge.select(ShingleGen.shingle_gen(col("text"), 3)).count() === 0)
  }

  test("simhash32 expression is bit-equal to the relational pipeline on real documents") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val native = docs
      .select(col("doc_id"), SimHash64Md5Expr.simhash32(col("text")).as("simhash"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val relational = Reference
      .simhash32(Dedup.shingleSets(docs, "doc_id", "text", 3))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
      .toMap
    assert(relational.nonEmpty)
    relational.foreach { case (id, sig) => assert(native(id) === sig, s"doc $id") }
  }

  test("simhash64_md5 expression is bit-equal to the relational pipeline") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val native = docs
      .select(
        col("doc_id"),
        graft.functions.SimHash64Md5Expr.simhash64_md5(col("text")).as("simhash"),
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val relational = Reference
      .simhash64Md5(Dedup.shingleSets(docs, "doc_id", "text", 3))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
      .toMap
    assert(relational.nonEmpty)
    relational.foreach { case (id, sig) => assert(native(id) === sig, s"doc $id") }
  }

  test("minhash_md5 expression is bit-equal to the relational signature pipeline") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val native = Dedup
      .minhashSignaturesNative(docs, "doc_id", "text", n = 3, k = 16)
      .collect()
      .map(r => r.getLong(0) -> (1 until 17).map(r.getString).toVector)
      .toMap
    val relational = Reference
      .minhashSignatures(Dedup.shingleSets(docs, "doc_id", "text", 3), 16)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (1 until 17).map(r.getString).toVector)
      .toMap
    assert(relational.nonEmpty)
    assert(native.keySet === relational.keySet, "same documents carry signatures")
    relational.foreach { case (id, sig) => assert(native(id) === sig, s"doc $id") }
    // shingle-less documents have NO signature row in either form
    import spark.implicits._
    val edge = Seq((1L, "a b"), (2L, "one two three four")).toDF("doc_id", "text")
    val ids  = Dedup
      .minhashSignaturesNative(edge, "doc_id", "text", n = 3, k = 4)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(ids === Set(2L))
  }

  test("simhash32 via SQL text; short documents yield 0 (no shingles)") {
    graft.GraftExtensions.register(spark)
    Seq((1L, "one two"), (2L, "a b c d")).toDF("id", "text").createOrReplaceTempView("v_sh")
    val rows = spark.sql("SELECT id, simhash32(text) AS s FROM v_sh").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(1L) === 0L) // < 3 tokens
    assert(rows(2L) !== 0L)
  }

  test("the shingling expressions reject non-string input at analysis, before any job runs") {
    graft.GraftExtensions.register(spark)
    val sc    = spark.sparkContext
    val group = "shingling-type-check"
    sc.setJobGroup(group, "analysis only")
    try {
      for {
        name <- Seq("simhash32", "simhash64_md5", "shingle_set_2", "shingle_set_3", "shingle_set_4")
        arg  <- Seq("42", "array('a')")
      } intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $name($arg)"))
      // the kernel expressions with no SQL name, through their builders
      val df = Seq((42, Seq("a"))).toDF("i", "a")
      for {
        build <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
          ShingleGen.shingle_gen(_, 3),
          MinHashMd5Expr.minhash_md5(_, 3, 4),
        )
        arg <- Seq(col("i"), col("a"))
      } intercept[org.apache.spark.sql.AnalysisException](df.select(build(arg)))
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("shingle_set expression is set-equal to the composed-builtins form on real documents") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val native = Dedup
      .shingleSets(docs, "doc_id", "text", 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh")))
      .toSet
    val composed = Reference
      .shingleSetsComposed(docs, "doc_id", "text", 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh")))
      .toSet
    assert(native.nonEmpty)
    assert(native === composed)
  }

  test("shingle_set: short documents yield empty set; n respected") {
    graft.GraftExtensions.register(spark)
    Seq((1L, "one two"), (2L, "a b c a b c")).toDF("id", "text").createOrReplaceTempView("v_shs")
    val r3 = spark.sql("SELECT id, shingle_set_3(text) AS s FROM v_shs").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(r3(1L).isEmpty)
    assert(r3(2L).toSet === Set("a b c", "b c a", "c a b"))
    val r2 = spark.sql("SELECT shingle_set_2(text) AS s FROM v_shs WHERE id = 1").head().getSeq[String](0)
    assert(r2 === Seq("one two"))
  }

  test("damerau_levenshtein: unrestricted variant (Lowrance–Wagner), not OSA") {
    import DamerauLevenshteinExpr.distance
    // the distinguishing case: OSA gives 3, unrestricted DL gives 2
    // (DuckDB's damerau_levenshtein('CA','ABC') = 2 — verified; the
    // oracle differential depends on this pin)
    assert(distance("CA", "ABC") === 2)
    assert(distance("ab", "ba") === 1)      // one transposition (lev = 2)
    assert(distance("abcd", "acbd") === 1)  // inner transposition
    assert(distance("kitten", "sitting") === 3)
    assert(distance("", "abc") === 3)
    assert(distance("abc", "") === 3)
    assert(distance("", "") === 0)
    assert(distance("same", "same") === 0)
    // code points: a surrogate-pair symbol counts as ONE edit
    assert(distance("a😀b", "ab") === 1)
  }

  test("damerau_levenshtein expression: SQL registry + codegen agree with the static eval") {
    graft.GraftExtensions.register(spark)
    val rows = Seq(
      ("CA", "ABC"), ("ab", "ba"), ("kitten", "sitting"), ("", "x"),
      ("GERMANY", "ROMANIA"), ("UNITED STATES", "UNITED KINGDOM"),
    ).toDF("a", "b")
    rows.createOrReplaceTempView("v_dl")
    val viaSql = spark
      .sql("SELECT a, b, damerau_levenshtein(a, b) AS d FROM v_dl")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    viaSql.foreach { case ((a, b), d) =>
      assert(d === DamerauLevenshteinExpr.distance(a, b), s"($a, $b)")
    }
    // null propagation
    val n = spark.sql("SELECT damerau_levenshtein(CAST(NULL AS STRING), 'x') AS d").head()
    assert(n.isNullAt(0))
  }

  test("jaro_winkler: DuckDB-pinned doubles (exact), empty-string and prefix conventions") {
    import JaroWinklerExpr.similarity
    // exact doubles fetched from duckdb jaro_winkler_similarity — the
    // oracle differential depends on bit equality of these
    assert(similarity("martha", "marhta") === 0.9611111111111111)
    assert(similarity("dixon", "dicksonx") === 0.8133333333333332)
    assert(similarity("jellyfish", "smellyfish") === 0.8962962962962964)
    assert(similarity("NATION_1", "NATION_12") === 0.9777777777777777)
    assert(similarity("abc", "abc") === 1.0)
    assert(similarity("", "x") === 0.0)
    assert(similarity("", "") === 0.0) // DuckDB convention, NOT 1
    // boost only above 0.7 and the prefix caps at 4
    assert(similarity("abcdefgh", "abcdzzzz") < 1.0)
    // SQL registry path + null propagation
    graft.GraftExtensions.register(spark)
    val v = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS j").head().getDouble(0)
    assert(v === 0.9611111111111111)
    assert(spark.sql("SELECT jaro_winkler(CAST(NULL AS STRING), 'x') AS j").head().isNullAt(0))
  }

  test("float_dot resolves from SQL text through the function registry") {
    // (withExtensions only takes effect on a fresh SparkSession; the
    // shared test session installs the same table through
    // GraftExtensions.register.)
    graft.GraftExtensions.register(spark)
    val v = spark
      .sql("SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head()
      .getDouble(0)
    assert(v === 11.0)
  }

  test("lcs_len: hand-checked subsequences; order sensitivity; null elements never match") {
    graft.GraftExtensions.register(spark)
    def lcs(a: Seq[String], b: Seq[String]): Long = Seq((a, b))
      .toDF("a", "b")
      .select(LcsLenExpr.lcs_len(col("a"), col("b")).as("d"))
      .head()
      .getLong(0)
    assert(lcs(Seq("a", "b", "c", "d"), Seq("a", "x", "c", "y", "d")) === 3L) // a c d
    assert(lcs(Seq("a", "b", "c"), Seq("c", "b", "a")) === 1L) // order matters
    assert(lcs(Seq("a", "b"), Seq("a", "b")) === 2L)
    assert(lcs(Seq("x"), Seq("y")) === 0L)
    assert(lcs(Seq.empty, Seq("a")) === 0L)
    // null tokens follow SQL equality: never equal, even to each other
    val withNulls = spark
      .sql("SELECT lcs_len(array('a', CAST(NULL AS STRING), 'b'), array('a', CAST(NULL AS STRING), 'b')) AS d")
      .head()
      .getLong(0)
    assert(withNulls === 2L)
  }

  test("dtw_distance: hand-checked alignment, band clipping, degenerate inputs") {
    graft.GraftExtensions.register(spark)
    def dtw(a: Seq[Long], b: Seq[Long], w: Int): Option[Long] = {
      val r = Seq((a, b))
        .toDF("a", "b")
        .select(DtwExpr.dtw_distance(col("a"), col("b"), lit(w)).as("d"))
        .head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // identical series: 0 at any band
    assert(dtw(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 0) === Some(0L))
    // classic warp: [1,2,3] vs [1,2,2,3] aligns the repeated 2 for free
    assert(dtw(Seq(1L, 2L, 3L), Seq(1L, 2L, 2L, 3L), 3) === Some(0L))
    // hand-checked non-zero: [0,0,0] vs [1,2,1] full band
    //   every cell cost |0-b_j|; optimal path diag/straight = 1+2+1 = 4
    assert(dtw(Seq(0L, 0L, 0L), Seq(1L, 2L, 1L), 3) === Some(4L))
    // band clipping changes the optimum: a = [0,10,0,0], b = [0,0,10,0].
    // Unbanded (w>=1) warps both 10s together: cost 0... band 0 forces
    // the pure diagonal: |0-0|+|10-0|+|0-10|+|0-0| = 20.
    assert(dtw(Seq(0L, 10L, 0L, 0L), Seq(0L, 0L, 10L, 0L), 1) === Some(0L))
    assert(dtw(Seq(0L, 10L, 0L, 0L), Seq(0L, 0L, 10L, 0L), 0) === Some(20L))
    // length mismatch widens the band to |n-m| (a monotone path exists)
    assert(dtw(Seq(5L), Seq(5L, 5L, 5L, 5L), 0) === Some(0L))
    // degenerate: both empty -> 0; one empty -> null
    assert(dtw(Seq.empty, Seq.empty, 2) === Some(0L))
    assert(dtw(Seq(1L, 2L), Seq.empty, 2) === None)
    assert(dtw(Seq.empty, Seq(1L), 2) === None)
    // SQL-text resolution through the session registry + null inputs
    val viaSql = spark
      .sql("SELECT dtw_distance(array(1L, 5L, 9L), array(1L, 9L), 2) AS d")
      .head()
      .getLong(0)
    assert(viaSql === 4L) // 0 + min-path through |5-1|/|5-9| band = 4
  }

  test("dtw_path: valid monotone path whose cost equals dtw_distance; pinned ties") {
    import graft.functions.{DtwExpr, DtwPathExpr}
    def path(a: Seq[Long], b: Seq[Long], w: Int): Option[Seq[(Int, Int)]] = {
      val r = Seq((a, b))
        .toDF("a", "b")
        .select(DtwPathExpr.dtw_path(col("a"), col("b"), lit(w)).as("p"))
        .head()
      if (r.isNullAt(0)) None
      else Some(r.getSeq[org.apache.spark.sql.Row](0).map(s => (s.getInt(0), s.getInt(1))))
    }
    // identity alignment: the tie order (diag first) pins the diagonal
    assert(path(Seq(3L, 3L, 3L), Seq(3L, 3L, 3L), 2) === Some(Seq((1, 1), (2, 2), (3, 3))))
    // the classic warp dwells on the repeated element
    assert(path(Seq(1L, 2L, 3L), Seq(1L, 2L, 2L, 3L), 3) ===
      Some(Seq((1, 1), (2, 2), (2, 3), (3, 4))))
    // validity + cost identity on an irregular pair: starts (1,1), ends
    // (n,m), steps ∈ {(1,0),(0,1),(1,1)}, and |Δ| summed along the path
    // equals dtw_distance
    val a = Seq(4L, 0L, 7L, 7L, 2L, 9L)
    val b = Seq(4L, 7L, 1L, 9L, 9L)
    val p = path(a, b, 2).get
    assert(p.head === ((1, 1)) && p.last === ((a.length, b.length)))
    p.sliding(2).foreach { case Seq((i0, j0), (i1, j1)) =>
      assert((i1 - i0, j1 - j0) match {
        case (1, 0) | (0, 1) | (1, 1) => true
        case _                        => false
      })
    }
    val pathCost = p.map { case (i, j) => math.abs(a(i - 1) - b(j - 1)) }.sum
    val dist = Seq((a, b)).toDF("a", "b")
      .select(DtwExpr.dtw_distance(col("a"), col("b"), lit(2))).head().getLong(0)
    assert(pathCost === dist)
    // degenerates mirror dtw_distance
    assert(path(Seq.empty, Seq.empty, 1) === Some(Seq.empty))
    assert(path(Seq(1L), Seq.empty, 1) === None)
  }

  test("BoundValue: same value as the literal, interpreted and generated; a new value reuses the class") {
    def run(v: Long, nullable: Boolean) = spark.range(0, 50, 1, 2)
      .select((col("id") + BoundValue.bound_value(lit(v) * 2)).as("s"),
        BoundValue.bound_value(lit(if (nullable) null else "x")).as("n"))
      .filter(col("s") >= BoundValue.bound_value(lit(v)))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    def expected(v: Long, nullable: Boolean) =
      (0L until 50L).map(_ + 2 * v).filter(_ >= v).map((_, if (nullable) None else Some("x")))
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    assert(run(7, nullable = false) === expected(7, nullable = false))
    val before = compiles.getCount
    assert(run(40, nullable = false) === expected(40, nullable = false))
    assert(compiles.getCount === before, "a new bound value compiled a new class")
    assert(run(3, nullable = true) === expected(3, nullable = true))
    val modes = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = modes.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(run(5, nullable = true) === expected(5, nullable = true))
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(BoundValue.bound_value(col("id"))).collect()
    }
    assert(err.getMessage.contains("bound_value takes no column reference"))
  }
}
