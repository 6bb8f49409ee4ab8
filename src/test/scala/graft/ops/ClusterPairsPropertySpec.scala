package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.clusterPairs]]'s two regimes — the driver union-find for
  * small graphs and the distributed star contraction past
  * `driverEdgeCutoff` — against each other and a component labelling
  * computed without Spark, on small generated pair lists with
  * self-loops, duplicate and reversed pairs and null ids, each fed in
  * a different row order. */
class ClusterPairsPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  type Pair = (Option[Long], Option[Long])

  private val idG: Gen[Option[Long]] =
    Gen.frequency(12 -> Gen.choose(0L, 9L).map(Option(_)), 1 -> Gen.const(None))

  /** A pair list and a second order of the same rows. */
  private val caseG: Gen[(List[Pair], List[Pair])] = for {
    n     <- Gen.choose(0, 10)
    base  <- Gen.listOfN(n, Gen.zip(idG, idG))
    dups  <- Gen.someOf(base)
    revs  <- Gen.someOf(base)
    seed  <- Gen.long
    pairs  = base ++ dups ++ revs.map(_.swap)
  } yield (pairs, new scala.util.Random(seed).shuffle(pairs))

  private val schema = StructType(Seq(StructField("a_id", LongType), StructField("b_id", LongType)))

  private def frame(pairs: Seq[Pair]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(pairs.map { case (a, b) =>
        Row(a.map(Long.box).orNull, b.map(Long.box).orNull)
      }: _*),
      schema,
    )

  private def labels(df: DataFrame): Seq[Pair] =
    df.collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]))
    }.sortBy(_.toString)

  /** Every id labelled by its component's minimum id, by relaxing the
    * edges to a fixpoint; a null id is its own (null) component. */
  private def reference(pairs: Seq[Pair]): Seq[Pair] = {
    val edges = pairs.collect { case (Some(a), Some(b)) => (a, b) }
    val label = scala.collection.mutable.Map.empty[Long, Long]
    pairs.foreach { case (a, b) => (a ++ b).foreach(n => label(n) = n) }
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = label(a) min label(b)
        if (label(a) != m || label(b) != m) { label(a) = m; label(b) = m; changed = true }
      }
    }
    val nulls = if (pairs.exists { case (a, b) => a.isEmpty || b.isEmpty }) Seq((None, None)) else Nil
    (label.toSeq.map { case (n, c) => (Option(n), Option(c)) } ++ nulls).sortBy(_.toString)
  }

  test("clusterPairs: union-find and star paths give the same labels under any row order, at 1 and 4 partitions") {
    val prop = Prop.forAll(caseG) { case (pairs, permuted) =>
      val expected   = reference(pairs)
      val unionFind  = labels(Dedup.clusterPairs(frame(pairs)))
      val permutedUf = labels(Dedup.clusterPairs(frame(permuted)))
      val stars      = labels(Dedup.clusterPairs(frame(permuted), driverEdgeCutoff = 0L))
      Prop(unionFind == expected).label(s"union-find $unionFind != reference $expected") &&
        Prop(permutedUf == expected).label(s"permuted union-find $permutedUf != reference") &&
        Prop(stars == expected).label(s"star path $stars != reference $expected")
    }
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    try
      for (parts <- Seq(1, 4)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
        val params = Test.Parameters.default
          .withMinSuccessfulTests(12)
          .withInitialSeed(Seed(parts.toLong))
        val res = Test.check(params, prop)
        assert(res.passed, s"partitions=$parts: ${org.scalacheck.util.Pretty.pretty(res)}")
      }
    finally saved.fold(spark.conf.unset("spark.sql.shuffle.partitions"))(
      spark.conf.set("spark.sql.shuffle.partitions", _))
  }
}
