package graft

import graft.queries.Shared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The shared-artifact registry ([[Shared]]): declarations, prewarm
  * selection and order, and the one-session-per-corpus lookup rule.
  * Runs over the benchmark's committed sf0.01 tables, so it needs no
  * data outside the repository. */
class SharedArtifactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf         = "perfbench/data/sf0.01"
  private val artifacts  = SparkEntry.sharedArtifacts

  /** The Bench `shared_build` line's artifacts, in order. */
  private val prewarmNames = Seq(
    "dedup_shingles", "jaccard_pairs", "corpus_survivors", "er_match", "minhash_sigs",
    "emb_pairs", "events_replay_src", "events_time_split", "documents_split",
    "events_hourly_state", "events_conformal_state", "trade_rows", "copurchase_edges",
    "bpe_merge_table", "ngram_count_tables", "transition_pairs", "dtw_series_pairs")

  /** The artifact names whose value is held for session `s`. */
  private def heldFor(s: SparkSession): Set[String] = {
    val key = Shared.sessionKey(s)
    artifacts.filter(_.heldSessions.contains(key)).map(_.name).toSet
  }


  test("every declared consumer is a registered query") {
    val queries = SparkEntry.queries.keySet
    val unknown = artifacts.flatMap(a => (a.consumers -- queries).map(c => s"${a.name}: $c"))
    assert(unknown.isEmpty, unknown.mkString("\n"))
  }

  test("artifact names are unique") {
    val names = artifacts.map(_.name)
    assert(names.distinct == names, names.diff(names.distinct).mkString(", "))
  }

  test("the full prewarm builds the 17 consumer-bearing artifacts in their fixed order") {
    assert(artifacts.filter(_.consumers.nonEmpty).map(_.name) == prewarmNames)
    val s = spark.newSession()
    assert(Shared.prewarm(artifacts, s, sf, None).map(_._1) == prewarmNames)
  }

  test("a narrowed selection builds only the artifacts its queries read") {
    val one = spark.newSession()
    assert(Shared.prewarm(artifacts, one, sf, Some(Set("ddp_entity_match"))).map(_._1) ==
      Seq("er_match"))
    assert(heldFor(one) == Set("er_match"))

    val none = spark.newSession()
    assert(Shared.prewarm(artifacts, none, sf, Some(Set.empty)).isEmpty)
    assert(heldFor(none).isEmpty)

    // the benchmark's operator_suite slice reads three artifacts
    val slice = Set(
      "ddp_char_budget", "ddp_corpus_prepare", "ddp_entity_match", "evt_type_overlap",
      "grp_cube_order_stats", "misc_sequence_explode", "mm_aspect_buckets", "rel_cdc_apply",
      "sim_ann_batched_topk", "str_levenshtein_nations", "stream_tumbling_event_counts",
      "txt_shingle_stats", "win_first_last")
    assert(Shared.prewarm(artifacts, spark.newSession(), sf, Some(slice)).map(_._1) ==
      Seq("corpus_survivors", "er_match", "events_replay_src"))
  }

  test("one value per session: reused within it, replaced by another without unpersist") {
    val er    = artifacts.find(_.name == "er_match").get.asInstanceOf[Shared[DataFrame]]
    val first = spark.newSession()
    val v1    = er(first, sf)
    assert(er(first, sf) eq v1)

    val second = spark.newSession()
    assert(er(second, sf) ne v1)
    assert(er.heldSessions == Set(Shared.sessionKey(second)))
    assert(heldFor(first).isEmpty)
    assert(v1.storageLevel != StorageLevel.NONE)
  }
}
