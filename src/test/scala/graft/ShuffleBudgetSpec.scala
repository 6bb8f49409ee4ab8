package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-byte REGRESSION GATE (r9 verdict item 5): the bench measures
  * per-query `shuffleBytesWritten`, but until this spec nothing FAILED
  * when a plan change doubled a query's exchange bill. Here the top-10
  * batch shufflers from BENCH_r09 get pinned ceilings: each query runs
  * at sf0.001 through [[ShuffleAudit]] (the same accounting the bench
  * reports) and must stay within 2× its recorded bytes. A collision
  * floor regression, a lost map-side partial aggregation, a payload
  * column leaking into a shuffle key — all show up here as bytes long
  * before they show up as seconds at scale.
  *
  * Ceilings are 2× the bytes measured at sf0.001 IN THIS TEST SESSION
  * (r10) — not the bench numbers: the bench pre-warms shared artifacts
  * (the shingle table) and books their shuffles under `shared_build`,
  * while the spec's standalone queries build them in-line, so the two
  * environments differ by up to the shared-build bill. 2× absorbs
  * partition-count and compression jitter; real regressions (the r9
  * sweep's fixed-band collision floor was 115×) clear it by orders of
  * magnitude.
  */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf         = "/root/testdata/sf0.001"

  // recorded shuffle bytes at sf0.001 in the spec session (r10);
  // ceiling = 2× recorded. The three graph queries share the persisted
  // trade projection (MiscQueries.prewarmShared) — the spec prewarms it
  // EXPLICITLY below so their baselines exclude the shared build
  // regardless of run order (pre-sharing baselines would leave the
  // first consumer absorbing the build and the rest measuring only
  // cache reads — a vacuous pin). The shared build's own exchange bill
  // is pinned separately as `__shared_trade_build`.
  private val recorded: Map[String, Long] = Map(
    "misc_pagerank_trade"         -> 22295L,
    "misc_pagerank_weighted"      -> 25104L,
    "ddp_embedding_pairs_auto"    -> 172714L,
    "ddp_semdedup_best"           -> 177218L,
    "txt_tfidf_topk"              -> 347008L,
    "sim_ann_ivf_pq_trained_topk" -> 568338L,
    "ddp_embedding_pairs_mp"      -> 655000L,
    "ddp_minhash_lsh_pairs"       -> 785253L,
    "ddp_corpus_prepare_emb"      -> 951555L,
    "ddp_jaccard_pairs_prefix"    -> 2372967L,
    "misc_triangle_census"        -> 83017L, // r10 addition: #3 bench shuffler
    "ddp_decontaminate_fuzzy"     -> 13799L, // r10 8th-session addition
    // r11 additions: the BENCH_r10 shuffle top-10 rows that were
    // unpinned (labelprop 72.2 MB at sf0.1 was the suite's #1)
    "misc_labelprop"              -> 37405L,
    "misc_ppr_trade"              -> 26409L,
    "misc_assoc_rules"            -> 164516L,
    "misc_kcore"                  -> 34979L,
    // r11 addition: the wedge-join link predictor (20.7 MB at sf0.1,
    // flat at 10x — dimension-bounded like the graph family)
    "misc_link_predict"           -> 287653L,
    // r12 additions: the entity-resolution pair (the r11 verdict's
    // untriaged driver row — repeat-min 5.4/4.7 s, shuffle FLAT at
    // 10x because part is a dimension) and its SNM stage, plus the
    // IVF refresh lifecycle gates
    "ddp_entity_match"            -> 1997L,
    "ddp_entity_match_jw"         -> 1997L,
    "ddp_snm_pairs"               -> 16995L,
    "sim_ann_ivf_refresh"         -> 451752L,
    "sim_ann_ivf_refresh_drift"   -> 314971L,
    // r13 additions: the new heavy gates (ShuffleAudit, sf0.001) —
    // the kNN ladder pair, the candidate×token weighted verify, the
    // trigram type table, and the tiered-rank stats trio; bootstrap's
    // tiny bill pins that the 30M-draw amplification stays MAP-ONLY
    // (weights never shuffle — only the 200 per-resample partials do)
    "ddp_weighted_jaccard"        -> 179837L,
    "sim_knn_graph_auto"          -> 199041L,
    "sim_knn_mutual_clusters"     -> 199525L,
    "txt_freq_of_freqs"           -> 291914L,
    "misc_bootstrap_ci"           -> 4876L,
    "misc_spearman_orders"        -> 79293L,
    "misc_rfm_scores"             -> 30755L,
    "misc_diameter_sweep"         -> 29982L,
  )

  // at sf0.001 the build's join broadcasts (59 B of exchange); the pin
  // uses a 4 KiB floor so byte-level jitter can't trip it while a
  // payload-column regression (tens of KB) still does
  private val sharedTradeBuildRecorded = 4096L

  test("top shufflers stay within 2x their recorded exchange bytes") {
    // build the shared trade projection first, under its own pin — the
    // lineitem⋈orders join is where a payload-column regression in the
    // shared artifact would land
    val buildBytes = ShuffleAudit.measure(spark) {
      graft.queries.MiscQueries.prewarmShared(spark, sf); ()
    }
    info(f"__shared_trade_build            $buildBytes%,12d bytes (recorded $sharedTradeBuildRecorded%,d)")
    assert(
      buildBytes <= 2 * sharedTradeBuildRecorded,
      s"shared trade build shuffles $buildBytes > ${2 * sharedTradeBuildRecorded}",
    )
    val over = recorded.toSeq.sortBy(_._1).flatMap { case (name, rec) =>
      val fn    = SparkEntry.queries(name)
      val bytes = ShuffleAudit.measure(spark) { fn(spark, sf).count(); () }
      info(f"$name%-28s $bytes%,12d bytes (recorded $rec%,d, ceiling ${2 * rec}%,d)")
      if (bytes > 2 * rec) Some(s"$name: $bytes > ${2 * rec}") else None
    }
    assert(over.isEmpty, s"shuffle-byte ceiling exceeded:\n${over.mkString("\n")}")
  }

  test("the gate trips on a deliberate plan pessimization") {
    import spark.implicits._
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    // clean shape: map-side partial aggregation shuffles only
    // (key, partial-sum) pairs
    val clean = ShuffleAudit.measure(spark) {
      lineitem.groupBy("l_partkey").agg(sum("l_quantity")).count(); ()
    }
    // pessimization: a pre-shuffle of FULL ROWS on the same key — the
    // exact class of regression the ceilings exist to catch (payload
    // crossing the exchange instead of partial aggregates)
    val pessimized = ShuffleAudit.measure(spark) {
      lineitem.repartition(col("l_partkey")).groupBy("l_partkey").agg(sum("l_quantity")).count()
      ()
    }
    info(f"clean $clean%,d bytes; pessimized $pessimized%,d bytes")
    assert(clean > 0L, "accounting must see the aggregation exchange")
    assert(
      pessimized > 2 * clean,
      s"a full-row pre-shuffle must blow a 2x partial-agg ceiling: $pessimized vs $clean",
    )
  }
}
