package graft.ocsf

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[Staging.upsert]], mergeRun's one keyed pass, against two
  * references on small generated tables: the two-pass formulation it
  * replaced (a window over the fresh rows, then a null-safe anti-join
  * of the snapshot against their keys, then a union) and a keyed
  * rebuild over everything landed, computed without Spark. */
class MergePropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** A landed row; its payload is a function of key and load time, so
    * two rows of one key and one load are the same row (a re-read). */
  case class Landed(uid: Option[String], run: Option[String], t: Int) {
    def key: (Option[String], Option[String]) = (uid, run)
    def row: (Option[String], Option[String], Int, String) = (uid, run, t, s"$uid/$run/$t")
  }

  /** `old` built the snapshot (absent before the first merge); `fresh`
    * is what the next merge reads above the snapshot's watermark: the
    * boundary rows of `old` again (the watermark is inclusive) and the
    * rows landed since, none older than the watermark. */
  case class Case(old: List[Landed], landed: List[Landed], snapshot: Boolean) {
    val watermark: Option[Int] = old.map(_.t).maxOption
    val fresh: List[Landed]    = old.filter(r => watermark.contains(r.t)) ++ landed
  }

  private val uidG = Gen.frequency(6 -> Gen.oneOf("u0", "u1", "u2").map(Option(_)), 1 -> Gen.const(None))
  private val runG = Gen.frequency(3 -> Gen.oneOf("r0", "r1").map(Option(_)), 2 -> Gen.const(None))
  private def landedG(t: Gen[Int]) = for (u <- uidG; r <- runG; ti <- t) yield Landed(u, r, ti)

  private val caseG: Gen[Case] = for {
    snapshot <- Gen.frequency(5 -> true, 1 -> false)
    nOld     <- if (snapshot) Gen.choose(0, 6) else Gen.const(0)
    old      <- Gen.listOfN(nOld, landedG(Gen.choose(0, 4)))
    wm        = old.map(_.t).maxOption.getOrElse(0)
    nNew     <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.choose(1, 6))
    landed   <- Gen.listOfN(nNew, landedG(Gen.choose(wm, wm + 2)))
  } yield Case(old, landed, snapshot)

  private val schema = StructType(Seq(
    StructField("finding_uid", StringType),
    StructField("scan_run_id", StringType),
    StructField("staging_loaded_at", TimestampType),
    StructField("payload", StringType),
  ))

  private def frame(rows: Seq[(Option[String], Option[String], Int, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (u, r, t, p) =>
        Row(u.orNull, r.orNull, new java.sql.Timestamp(t * 1000L), p)
      }: _*),
      schema,
    )

  /** Latest load per key, without Spark. */
  private def rebuild(rows: Seq[Landed]): Seq[(Option[String], Option[String], Int, String)] =
    rows.groupBy(_.key).values.map(_.maxBy(_.t).row).toSeq

  /** The two-pass merge the keyed pass replaced. */
  private def twoPass(fresh: DataFrame, current: Option[DataFrame]): DataFrame = {
    val keys = Seq("finding_uid", "scan_run_id")
    val freshT = fresh
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("staging_loaded_at").desc)))
      .filter(col("__rn") === 1)
      .drop("__rn")
    current.fold(freshT) { c =>
      val cond = keys.map(k => c(k) <=> freshT(k)).reduce(_ && _)
      freshT.unionByName(c.join(freshT.select(keys.map(freshT(_)): _*), cond, "left_anti"))
    }
  }

  private def collected(df: DataFrame): Seq[(Option[String], Option[String], Int, String)] =
    df.collect().toSeq.map { r =>
      (Option(r.getString(0)), Option(r.getString(1)),
        (r.getTimestamp(2).getTime / 1000L).toInt, r.getString(3))
    }.sortBy(_.toString)

  test("one keyed pass equals the two-pass merge and a keyed rebuild, at 1 and 4 partitions, AQE on and off") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def shapes(c: Case): Unit = {
      val currentKeys = c.old.map(_.key).toSet
      val freshKeys   = c.fresh.map(_.key)
      if (c.fresh.isEmpty && c.snapshot) seen("empty fresh set") += 1
      if (freshKeys.exists(currentKeys)) seen("fresh key in the snapshot") += 1
      if (freshKeys.exists(k => k._2.isEmpty && currentKeys(k))) seen("NULL scan_run_id re-ingested") += 1
      if (freshKeys.distinct.size < freshKeys.size) seen("duplicate fresh keys") += 1
      if (c.landed.exists(r => currentKeys.exists(k => k._1 == r.uid && k._2 != r.run)))
        seen("re-scan: same uid, new scan_run_id") += 1
    }
    val prop = Prop.forAll(caseG) { c =>
      shapes(c)
      val current  = if (c.snapshot) Some(frame(rebuild(c.old))) else None
      val fresh    = frame(c.fresh.map(_.row))
      val expected = rebuild(c.old ++ c.landed).sortBy(_.toString)
      val onePass  = collected(Staging.upsert(fresh, current))
      Prop(onePass == expected).label(s"one pass $onePass != keyed rebuild $expected") &&
        Prop(onePass == collected(twoPass(fresh, current))).label("one pass != two-pass merge")
    }
    val confs = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try
      for (parts <- Seq(1, 4); aqe <- Seq(true, false)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val params = Test.Parameters.default
          .withMinSuccessfulTests(25)
          .withInitialSeed(Seed(parts * 10L + (if (aqe) 1 else 0)))
        val res = Test.check(params, prop)
        assert(res.passed, s"partitions=$parts aqe=$aqe: ${org.scalacheck.util.Pretty.pretty(res)}")
      }
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    info(seen.toSeq.sorted.map { case (k, n) => s"$k: $n" }.mkString(", "))
    Seq("empty fresh set", "fresh key in the snapshot", "NULL scan_run_id re-ingested",
      "duplicate fresh keys", "re-scan: same uid, new scan_run_id").foreach { shape =>
      assert(seen(shape) > 0, s"no generated case had the shape: $shape")
    }
  }
}
