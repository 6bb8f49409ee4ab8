package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Keyed → global marginalization of the conformal interval: each
  * key's row of [[Stats.conformalMeanIntervalBy]] equals
  * [[Stats.conformalMeanInterval]] over that key's rows alone, on small
  * generated `(key, id, value)` tables with null keys and values,
  * repeated ids and any α, at 1 and 4 shuffle partitions. A key the
  * keyed form leaves out has no measurable interval: the global form
  * over its rows has no calibration rows or no test rows. */
class ConformalPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  type Obs = (Option[String], Long, Option[Long])

  private val obsG: Gen[Obs] = for {
    k  <- Gen.frequency(8 -> Gen.oneOf("a", "b", "c").map(Option(_)), 1 -> Gen.const(None))
    id <- Gen.choose(0L, 60L)
    v  <- Gen.frequency(8 -> Gen.choose(-3L, 9L).map(Option(_)), 1 -> Gen.const(None))
  } yield (k, id, v)

  private val caseG: Gen[(List[Obs], Long)] = for {
    n     <- Gen.choose(0, 30)
    rows  <- Gen.listOfN(n, obsG)
    alpha <- Gen.oneOf(Gen.choose(1L, 999999L), Gen.oneOf(100000L, 500000L))
  } yield (rows, alpha)

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("id", LongType),
    StructField("v", LongType),
  ))

  private def frame(rows: Seq[Obs]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, id, v) =>
        Row(k.orNull, id, v.map(Long.box).orNull)
      }: _*),
      schema,
    )

  /** Keys compared row for row, and keys the keyed form left out. */
  private var matched, unmeasured = 0

  private def marginal(rows: List[Obs], alpha: Long, partitions: Int): Prop = {
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
    val df    = frame(rows)
    val keyed = Stats.conformalMeanIntervalBy(df, col("k"), col("id"), col("v"), alpha)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val keys = rows.collect { case (Some(k), _, Some(_)) => k }.distinct
    val extra = Prop(keyed.keySet.subsetOf(keys.toSet)).label(s"keys ${keyed.keySet} not in $keys")
    keys.map { k =>
      val global: Row = Stats.conformalMeanInterval(df.filter(col("k") === k), col("id"), col("v"), alpha)
        .collect().head
      keyed.get(k) match {
        case Some(row) =>
          matched += 1
          Prop(row == global.toSeq).label(s"partitions=$partitions key $k: $row != $global")
        case None =>
          unmeasured += 1
          Prop(global.isNullAt(0) || global.getLong(1) == 0L)
            .label(s"partitions=$partitions key $k left out, global $global")
      }
    }.foldLeft(extra)(_ && _)
  }

  test("conformalMeanIntervalBy: each key's row equals conformalMeanInterval over its rows, at 1 and 4 partitions") {
    val prop = Prop.forAll(caseG) { case (rows, alpha) =>
      marginal(rows, alpha, 1) && marginal(rows, alpha, 4)
    }
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    try {
      val params = Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(19L))
      val res    = Test.check(params, prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    } finally saved.fold(spark.conf.unset("spark.sql.shuffle.partitions"))(
      spark.conf.set("spark.sql.shuffle.partitions", _))
    info(s"keys compared: $matched, left out by the keyed form: $unmeasured")
    assert(matched > 0 && unmeasured > 0, "both outcomes must occur")
  }
}
