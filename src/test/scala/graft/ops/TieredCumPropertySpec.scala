package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The users of the tiered cumulative ([[Stats.ksStatistic]],
  * [[Stats.mannWhitneyU]] over `tieredCum`, [[Stats.spearmanStats]]
  * over `tieredCumBy`) range-partition their histogram and offset each
  * partition by the totals of the ones before it. Their rows must not
  * depend on how many partitions that split makes, nor on the input's
  * row order: generated small samples with ties and null values, each
  * run at 1, 3 and 8 shuffle partitions and in a second row order. */
class TieredCumPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** (value, in sample 1, paired value); values drawn from a small
    * domain so tie groups are common. */
  type Obs = (Option[Long], Boolean, Option[Long])

  private val valueG: Gen[Option[Long]] =
    Gen.frequency(10 -> Gen.choose(0L, 6L).map(Option(_)), 1 -> Gen.const(None))

  /** Rows and a second order of them. Two fixed rows keep every
    * statistic defined: both samples are present and both columns take
    * two distinct values (a constant column divides by zero). */
  private val caseG: Gen[(List[Obs], List[Obs])] = for {
    n    <- Gen.choose(0, 14)
    rows <- Gen.listOfN(n, Gen.zip(valueG, Gen.oneOf(true, false), valueG))
    seed <- Gen.long
    all   = (Some(0L), true, Some(0L)) :: (Some(1L), false, Some(1L)) :: rows
  } yield (all, new scala.util.Random(seed).shuffle(all))

  private val schema = StructType(Seq(
    StructField("v", LongType),
    StructField("is1", BooleanType),
    StructField("y", LongType),
  ))

  private def frame(rows: Seq[Obs]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (v, s, y) =>
        Row(v.map(Long.box).orNull, s, y.map(Long.box).orNull)
      }: _*),
      schema,
    )

  private def stats(rows: Seq[Obs], partitions: Int): Seq[Row] = {
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
    val df = frame(rows)
    Seq(
      Stats.ksStatistic(df, col("v"), col("is1")),
      Stats.mannWhitneyU(df, col("v"), col("is1")),
      Stats.spearmanStats(df, col("v"), col("y")),
    ).flatMap(_.collect())
  }

  test("ksStatistic, mannWhitneyU and spearmanStats: same rows at 1, 3 and 8 partitions and in any row order") {
    val prop = Prop.forAll(caseG) { case (rows, permuted) =>
      val expected = stats(rows, 1)
      Seq((permuted, 1), (permuted, 3), (rows, 8), (permuted, 8))
        .map { case (input, parts) =>
          val got = stats(input, parts)
          Prop(got == expected).label(s"partitions=$parts: $got != $expected")
        }
        .reduce(_ && _)
    }
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    try {
      val params = Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(11L))
      val res    = Test.check(params, prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    } finally saved.fold(spark.conf.unset("spark.sql.shuffle.partitions"))(
      spark.conf.set("spark.sql.shuffle.partitions", _))
  }
}
