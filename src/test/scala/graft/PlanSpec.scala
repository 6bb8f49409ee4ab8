package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: these lock in the *shape* of the plans, not
  * just their results — filter/projection pushdown reaching the parquet
  * scan, broadcast joins where a side is small, top-k without a global
  * sort, no cartesian products anywhere, and whole-stage codegen over
  * the hot expression pipelines. A regression here is a 100 TB
  * performance bug even when correctness stays green.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def df(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def planOf(name: String): String =
    df(name).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("scan query pushes filters and prunes columns at the parquet scan") {
    val p = planOf("rel_scan_filter_project")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThan(l_discount,0.05)"), "discount filter not pushed:\n" + p)
    assert(p.contains("LessThan(l_shipdate"), "shipdate filter not pushed:\n" + p)
    // projection pruning: the read schema must not include unused columns
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      "scan reads unused columns: " + readSchema)
  }

  test("small dimensions are broadcast; fact-fact joins are not cartesian") {
    val multiway = planOf("rel_join_multiway_region_revenue")
    assert(multiway.contains("BroadcastHashJoin"), multiway)
    assert(!multiway.contains("CartesianProduct"), multiway)
    // only the fixed-cardinality dims (nation=25, region=5 rows at every
    // SF) may carry a forced hint; `supplier` and `part` scale with the
    // corpus, so their strategy must stay the planner's choice
    val hinted = df("rel_join_multiway_region_revenue").queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(hinted.length === 2, s"expected hints only on nation+region, got ${hinted.length}")
    val bcast = df("rel_join_broadcast_revenue")
    val bcastHints = bcast.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(bcastHints.isEmpty, s"part join must be unhinted: ${bcastHints.mkString(", ")}")
    // AQE still *chooses* broadcast at demo SF — the win without the risk
    bcast.collect()
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "planner should pick broadcast for part at sf0.01")
  }

  test("semi/anti joins plan as join strategies, not subquery re-execution") {
    assert(planOf("rel_join_semi_exists").contains("LeftSemi"))
    assert(planOf("rel_join_anti_not_exists").contains("LeftAnti"))
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = planOf("rel_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("wide aggregation does map-side partial aggregation with one shuffle") {
    val p = planOf("rel_agg_pricing_summary")
    assert(p.contains("partial_sum"), p) // map-side combine before the exchange
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length === 1, p)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length === 2, p)
  }

  test("as-of join is a single window pass — no range cross join") {
    val p = planOf("evt_asof_error_click")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("LSH candidate joins are equi-joins on collision keys, not all-pairs") {
    Seq("ddp_minhash_lsh_pairs", "ddp_simhash_pairs").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
    }
  }

  test("embedding near-dup: banded signature is shuffle-free; candidate join is keyed") {
    // the SRP band-key signature must be a pure projection — shuffles
    // appear only at the (band, key) candidate join and the distinct
    val sig = graft.ops.Similarity
      .srpBandKeys(Tables.embeddings(spark, sf), "vec_id", "embedding", 72, 12)
    val sigPlan = sig.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!sigPlan.contains("Exchange"), s"signature computation shuffles:\n$sigPlan")
    val p = planOf("ddp_embedding_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup pair join is not collision-keyed:\n$p")
    // multi-probe expands keys but must still join hash-keyed
    val mp = planOf("ddp_embedding_pairs_mp")
    assert(!mp.contains("CartesianProduct") && !mp.contains("BroadcastNestedLoopJoin"),
      s"multi-probe pair join is not collision-keyed:\n$mp")
    // IVF variant: both pair sides are corpus-sized, so the correct
    // plan is a cent_id-keyed shuffle join — anything unkeyed
    // (cartesian / nested-loop on the pair sides) is the regression
    val ivf = planOf("ddp_embedding_pairs_ivf")
    assert(!ivf.contains("CartesianProduct") && !ivf.contains("BroadcastNestedLoopJoin"),
      s"IVF pair join is not cell-keyed:\n$ivf")
  }

  // NOTE: no plan pin for ddp_corpus_prepare — its checkpointed stages
  // surface as LogicalRDD scans in explain output, so a whole-pipeline
  // assertion would be vacuous. The component joins are pinned by the
  // LSH / exact-dedup / embedding tests above on their own queries.

  test("stratified sampling is one shuffle-free scan; packing shuffles once by stream key") {
    // the sampler is a pure predicate over the scan — any Exchange
    // means the map-only contract broke
    val sp = planOf("misc_sample_stratified")
    assert(!sp.contains("Exchange"), s"sampling shuffles:\n$sp")
    // packing = exactly one hash exchange (the per-stream window);
    // a second one would mean the window spec re-partitions
    val pp = planOf("txt_pack_budget")
    assert("\\(\\d+\\) Exchange".r.findAllIn(pp).length === 1, pp)
  }

  test("decontamination broadcasts the benchmark shingles; corpus side never shuffles") {
    val p = planOf("ddp_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // left-semi against the broadcast eval set, left-anti for the keep;
    // no SortMergeJoin means the corpus-sized side stayed in place
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled for the join:\n$p")
  }

  test("IVF scoring join broadcasts the probe side — no shuffle of candidates by cell") {
    val p = planOf("sim_ann_ivf_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the big side reaches the scoring join without a cell-key exchange:
    // every SortMergeJoin would imply one
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("IVF nprobe=1 assignment is a hash aggregate (partial combine), never a window") {
    import org.apache.spark.sql.functions._
    val base = graft.ops.Similarity.withNorm(Tables.embeddings(spark, sf), "embedding")
    val cents = graft.ops.Similarity.ivfCentroids(base.drop("nrm"), "vec_id", "embedding", 16)
    val one = graft.ops.Similarity.ivfAssign(base, cents, "vec_id", "embedding", nprobe = 1)
    val p = one.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the C-way scored expansion must collapse map-side: a Window here
    // would ship C embedding copies per vector through the shuffle
    assert(!p.contains("Window"), s"nprobe=1 assignment plans a window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_first"),
      s"no map-side partial aggregation before the exchange:\n$p")
    // nprobe>1 (query side only — always the small side) keeps the window
    val two = graft.ops.Similarity.ivfAssign(base, cents, "vec_id", "embedding", nprobe = 2)
    val p2 = two.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p2.contains("Window"), p2)
    // and the two paths agree where they overlap: nprobe=1 rows are
    // exactly the rank-1 rows of the window path
    val viaAgg = one.select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaWin = graft.ops.Similarity
      .ivfAssign(base, cents, "vec_id", "embedding", nprobe = 2, keepRank = true)
      .filter(col("cent_rank") === 1)
      .select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaAgg === viaWin)
  }

  test("bounded top-k UDAF does map-side partial aggregation (two-phase ObjectHashAggregate)") {
    val p = planOf("rel_agg_topk_udaf")
    val objAggs = p.split("ObjectHashAggregate").length - 1
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate phases:\n$p")
    assert(p.contains("partial_"), p) // map-side combine before the exchange
    assert(p.contains("Exchange"), p)
  }

  test("tf-idf: corpus size is broadcast, no cartesian blowup, a single per-doc window") {
    val p = planOf("txt_tfidf_topk")
    // the 1-row corpus-count side joins via broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // two window passes: the per-term document-frequency count and the
    // per-doc top-k cut, whose rnk <= k filter is pushed into
    // WindowGroupLimit (partial+final: per-partition top-k before the
    // shuffle — full ranks never materialize)
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).length === 2, p)
    assert(p.contains("WindowGroupLimit"), p)
    // document frequency rides a window over the tf frame, so the
    // whole operator is one linear pipeline: exactly ONE explode — a
    // tf ⋈ dfreq self-join would recompute it per branch (pruning
    // defeats exchange reuse) and double the heaviest stage at scale
    assert("\\(\\d+\\) Generate\\b".r.findAllIn(p).length === 1, p)
  }

  test("rare-token filter: vocab join is keyed, corpus total is broadcast") {
    val p = planOf("txt_rare_tokens")
    assert(!p.contains("CartesianProduct"), p)
    // occurrences ⋈ counts is an equi-join on term (SMJ or broadcast
    // under AQE) — never a nested-loop over occurrences
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin Inner BuildLeft, false"),
      p)
  }

  test("budget sampler is one windowed scan; frequent shingles is TakeOrdered, no global sort") {
    val budget = planOf("misc_sample_budget_mix")
    assert("\\(\\d+\\) Exchange".r.findAllIn(budget).length === 1, budget) // the stratum shuffle
    assert(!budget.contains("Join"), budget) // quotas compile into the predicate, never a join
    val freq = planOf("txt_frequent_shingles")
    assert(freq.contains("TakeOrderedAndProject"), freq)
    assert(freq.contains("partial_count"), freq) // df combines map-side before the shuffle
  }

  test("boilerplate fraction reuses one explode: window df, no self-join of the shingling") {
    val p = planOf("txt_boilerplate")
    assert("\\(\\d+\\) Generate".r.findAllIn(p).length === 1, p) // one explode only
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ANN rerank: pool and rerank joins are keyed; query side broadcast; no cartesian") {
    val p = planOf("sim_ann_rerank_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("chunk dedup: one generate, fingerprint-keyed window, no cartesian") {
    val p = planOf("ddp_chunk_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert("\\(\\d+\\) Generate".r.findAllIn(p).length === 1, "chunking must be a single generate:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("PQ/IVF-PQ: codebook and LUT joins broadcast, never cartesian") {
    for (
      name <- Seq(
        "sim_ann_pq_topk",
        "sim_ann_ivf_pq_topk",
        "sim_ann_ivf_pq_trained_topk",
        "sim_ann_ivf_pq_residual_topk",
      )
    ) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name must broadcast the codebook/LUT side:\n$p")
    }
  }

  test("PQ encode is map-only: literal codebook, zero exchanges, zero joins") {
    // The corpus-side encode pass of the IVF-PQ path carries the
    // m×ksub×dsub codebook as a literal and computes each vector's
    // codes in one native expression — one projection over the scan.
    // Any Exchange or Join here means the encode regained a
    // per-subspace row stream.
    val spark = SparkTestBase.spark
    val emb   = spark.read.parquet(s"$sf/embeddings.parquet")
    val dim   = emb.select(org.apache.spark.sql.functions.size(emb("embedding"))).head().getInt(0)
    val sim   = graft.ops.Similarity
    val cb  = sim.pqTrainInt8Dim(emb, "vec_id", "embedding", m = 8, ksub = 16, dim)
    val enc = sim.pqEncodeInt8Dim(emb, cb, "vec_id", "embedding", m = 8, dim)
    enc.collect()
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"encode must not join:\n$p")
  }

  test("native signature stages are map-only: no shingle explode in the plan") {
    // Both queries compute per-document signatures via native one-pass
    // expressions (SimHash64Md5Expr / MinHashMd5Expr); a shingle
    // explode in the plan would mean the signature stage regained a
    // per-shingle row stream + aggregate. (The banding stack unpivot is
    // also a Generate — per document and cheap — so the pin targets the
    // shingle generator specifically, not Generate nodes per se.)
    for (name <- Seq("ddp_simhash64_md5_pairs", "ddp_dedup_incremental_fuzzy")) {
      val p = planOf(name).toLowerCase
      assert(!p.contains("shingle"), s"$name signature stage must not explode shingles:\n$p")
      assert(!p.contains("explode("), s"$name signature stage must not explode shingles:\n$p")
      assert(!p.contains("cartesianproduct"), s"$name:\n$p")
    }
  }

  test("k-step funnel is ONE shuffle: no join, no window, single exchange") {
    // the per-step timestamp arrays + the HOF first-after-previous walk
    // happen inside one aggregated row — a plan with a Join means the
    // funnel regressed to the textbook k-self-join form
    val p = planOf("evt_funnel_steps")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
    assert("\\(\\d+\\) Window\\b".r.findFirstIn(p).isEmpty, s"funnel must not window:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length === 1, p)
  }

  test("SCD2 merge and as-of read plan without cartesian products") {
    for (name <- Seq("rel_scd2_customer", "rel_scd2_asof_join")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("RAG composition: chunk+embed stays map-side; query side broadcast; no cartesian") {
    val p = planOf("sim_rag_chunk_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // chunking+embedding must not shuffle before the candidate join:
    // exactly the exchanges of the top-k window cut, nothing upstream
    assert(!p.contains("SortMergeJoin"), s"candidate scan must not shuffle for the join:\n$p")
  }

  test("trainingSample prunes by hash prefix before the top-n: no corpus-wide TakeOrdered") {
    // Force the pruned path with a corpus well past margin·4·n: the
    // per-partition top-n heaps must sit ABOVE a Filter on the md5
    // prefix, so at 100 TB the heap only ever sees ~margin·n rows, not
    // the whole corpus.
    val corpus = spark.range(0, 20000).selectExpr("id AS vec_id", "CAST(id AS DOUBLE) AS v")
    val sample = graft.ops.Similarity.trainingSample(corpus, "vec_id", 64)
    val p      = sample.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Filter"), s"hash-prefix prune missing below the top-n:\n$p")
    assert(p.toLowerCase.contains("conv(substring(md5"), s"prune is not the md5-prefix cutoff:\n$p")
  }

  test("new analytics gates: map-side partial aggregation, no cartesian, bounded window passes") {
    for (name <- Seq("evt_cohort_retention", "evt_rolling_wau", "evt_transition_matrix",
        "evt_decayed_engagement", "misc_cms_heavy_hitters", "misc_sample_temperature")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") || name == "evt_decayed_engagement" ||
        name == "evt_rolling_wau", s"$name unexpectedly nest-loops:\n$p")
    }
    // the CMS sketch build is d hash aggregations with map-side combine
    val cms = planOf("misc_cms_heavy_hitters")
    assert(cms.contains("partial_count") || cms.contains("partial_sum"), cms)
    // temperature mixing is a scan-local predicate: no join in the kept-set path
    val t = planOf("misc_sample_temperature")
    assert(!t.contains("Join"), s"temperature mix must be a scan-local predicate:\n$t")
  }

  test("attribution and interval merge share one keyed window exchange; new gates stay keyed") {
    // attribution: three window functions (count + two row_numbers) all
    // partition by conv_id — one exchange on conv_id, with the sorts
    // layered over it; a second conv_id exchange means the windows
    // stopped sharing their partitioning.
    val attr = planOf("evt_attribution")
    assert(!attr.contains("CartesianProduct"), attr)
    assert("hashpartitioning\\(conv_id".r.findAllIn(attr).length === 1,
      s"attribution should exchange on conv_id exactly once:\n$attr")
    // interval merge: the two windows AND the island aggregation all
    // reuse the single user_id exchange (hashpartitioning(user_id)
    // satisfies the (user_id, __grp) clustering requirement).
    val im = planOf("evt_interval_merge")
    assert(!im.contains("CartesianProduct"), im)
    assert("hashpartitioning\\(user_id".r.findAllIn(im).length === 1,
      s"interval merge is one exchange:\n$im")
    // the rest of the round's gates: keyed joins only (the 1-row
    // totals sides may broadcast-nest-loop, which is fine; a true
    // cartesian is not)
    for (name <- Seq("misc_assoc_rules", "txt_inverted_index", "misc_fk_audit",
        "rel_join_incremental_maintain", "misc_skew_report", "ddp_corpus_diff"))
      assert(!planOf(name).contains("CartesianProduct"), name)
    // skew report's top-k is TakeOrdered, not a global sort
    val skew = planOf("misc_skew_report")
    assert(skew.contains("TakeOrderedAndProject"), s"skew top-k must be TakeOrdered:\n$skew")
  }

  test("r11 gates: query sides broadcast, joins keyed, map-only ops exchange-free") {
    // MaxSim: the query chunk bag must broadcast (bounded by contract)
    // — the corpus-vs-query scoring join must NOT be a SortMergeJoin
    // (that would shuffle the corpus on a non-key), and nothing may
    // plan cartesian. Its per-chunk max and per-doc sum both do
    // map-side partial aggregation.
    val ms = planOf("sim_maxsim_topk")
    assert(!ms.contains("CartesianProduct"), ms)
    assert(!ms.contains("SortMergeJoin"), s"maxsim corpus side must not shuffle-join:\n$ms")
    assert(ms.contains("partial_max") && ms.contains("partial_sum"),
      s"maxsim reductions must BOTH partially aggregate:\n$ms")
    // Stutter collapse is a pure map: zero exchanges, zero joins.
    val cr = planOf("ddp_repeat_collapse")
    assert(!cr.contains("Exchange") && !cr.contains("Join"),
      s"collapseRepeats must be map-only:\n$cr")
    // Purged folds: the only exchange is the final bounded fold-key
    // aggregation; the span side is a broadcast 1-row aggregate.
    val pf = planOf("misc_purged_folds")
    assert(!pf.contains("CartesianProduct"), pf)
    assert(!pf.contains("SortMergeJoin"), s"purgedFolds span must broadcast:\n$pf")
    // Preference pairs: one keyed exchange (the group aggregate), no
    // window pass at all — the extrema are min/max-struct aggregates.
    val pp = planOf("txt_preference_pairs")
    assert(!pp.contains("Window"), s"preferencePairs must not use windows:\n$pp")
    assert("hashpartitioning\\(".r.findAllIn(pp).length === 1,
      s"preferencePairs is one keyed exchange:\n$pp")
    // Link prediction: wedge build + degree joins + anti join are all
    // keyed; the k cut is TakeOrdered, never a global sort.
    val lp = planOf("misc_link_predict")
    assert(!lp.contains("CartesianProduct") && !lp.contains("BroadcastNestedLoopJoin"),
      s"link prediction joins must be keyed:\n$lp")
    assert(lp.contains("TakeOrderedAndProject"), s"link prediction top-k:\n$lp")
    // EWMA / seasonal outliers: keyed joins only (grid fill + stats
    // join-back); the span probe broadcasts.
    for (name <- Seq("evt_ewma_hourly", "evt_seasonal_outliers"))
      assert(!planOf(name).contains("CartesianProduct"), name)
    // Full outer join: both pre-aggregates partition on the key, the
    // full-outer SMJ must reuse those exchanges — exactly two
    // hashpartitioning exchanges (one per side), none after the join.
    val fo = planOf("rel_join_full_outer")
    assert("hashpartitioning\\(".r.findAllIn(fo).length <= 2,
      s"full outer must reuse the pre-aggregate exchanges:\n$fo")
  }

  test("r11 continuation gates: map-only ops exchange-free, aggregates partial, joins keyed") {
    // Feature hash: tokenize-explode is map-only; the ONLY exchange is
    // the (doc, bucket) aggregate, and it combines map-side.
    val fh = planOf("txt_feature_hash")
    assert(!fh.contains("Join"), s"featureHash must not join:\n$fh")
    assert("hashpartitioning\\(".r.findAllIn(fh).length === 1,
      s"featureHash is one keyed exchange:\n$fh")
    assert(fh.contains("partial_count") || fh.contains("partial_sum"),
      s"featureHash aggregate must combine map-side:\n$fh")
    // Sentence stats: pure map — zero exchanges, zero joins.
    val ss = planOf("txt_sentence_stats")
    assert(!ss.contains("Exchange") && !ss.contains("Join"),
      s"sentenceStats must be map-only:\n$ss")
    // Damerau pairs: the 25-row dimension self-join may nest-loop
    // (non-equi predicate over a bounded dim) but must never
    // shuffle-sort; the scalar DP is the workload.
    val dl = planOf("str_damerau_nations")
    assert(!dl.contains("SortMergeJoin") && !dl.contains("CartesianProduct"),
      s"damerau pair join must stay broadcast over the bounded dim:\n$dl")
    // LISTAGG: one keyed exchange, no window pass.
    val la = planOf("rel_agg_listagg")
    assert(!la.contains("Window"), s"listagg must not use windows:\n$la")
    assert("hashpartitioning\\(".r.findAllIn(la).length === 1,
      s"listagg is one keyed exchange:\n$la")
    // Holt trend + Markov steady state: keyed joins only — the grid
    // fill / rank rounds must never plan cartesian (the 1-row count
    // probes broadcast by construction).
    for (name <- Seq("evt_holt_trend", "misc_markov_steady", "sim_map_eval"))
      assert(!planOf(name).contains("CartesianProduct"), name)
  }

  test("EditDistancePrefilter: bounded distance predicates gain the length guard; rows unchanged") {
    graft.plans.EditDistancePrefilter.installOn(spark)
    graft.GraftExtensions.register(spark)
    val n = Tables.nation(spark, sf).select(org.apache.spark.sql.functions.col("n_name"))
    n.createOrReplaceTempView("v_edp_nation")

    // Filter form, builtin levenshtein: the optimized condition carries
    // abs(length - length) <= 3 ahead of the DP.
    val filt = spark.sql(
      "SELECT a.n_name AS an, b.n_name AS bn FROM v_edp_nation a, v_edp_nation b " +
        "WHERE a.n_name < b.n_name AND levenshtein(a.n_name, b.n_name) <= 3")
    val fp = filt.queryExecution.optimizedPlan.toString
    assert(fp.contains("abs(") && fp.contains("length("),
      s"length guard missing from the optimized plan:\n$fp")
    // fixed-point idempotence: exactly ONE guard, not one per pass
    assert("abs\\(".r.findAllIn(fp).length === 1, s"guard duplicated:\n$fp")

    // row equality vs the unguarded semantics (guard is necessary, so
    // counts match the plain recompute)
    val expected = spark.sql(
      "SELECT count(*) AS c FROM v_edp_nation a, v_edp_nation b " +
        "WHERE a.n_name < b.n_name AND levenshtein(a.n_name, b.n_name) + 0 <= 3")
      .head().getLong(0)
    assert(filt.count() === expected)

    // native damerau matches too
    val dl = spark.sql(
      "SELECT count(*) FROM v_edp_nation a, v_edp_nation b " +
        "WHERE a.n_name < b.n_name AND damerau_levenshtein(a.n_name, b.n_name) < 4")
    val dp = dl.queryExecution.optimizedPlan.toString
    assert(dp.contains("abs("), s"damerau predicate must gain the guard:\n$dp")

    // negatives: non-literal bound, reversed inequality, thresholded
    // 3-arg levenshtein — all untouched
    for (
      sql <- Seq(
        "SELECT * FROM v_edp_nation a, v_edp_nation b " +
          "WHERE levenshtein(a.n_name, b.n_name) <= length(a.n_name)",
        "SELECT * FROM v_edp_nation a, v_edp_nation b " +
          "WHERE levenshtein(a.n_name, b.n_name) >= 3",
        "SELECT * FROM v_edp_nation a, v_edp_nation b " +
          "WHERE levenshtein(a.n_name, b.n_name, 3) <= 3",
      )
    ) {
      val p = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(!p.contains("abs("), s"guard must not fire for: $sql\n$p")
    }
  }

  test("EditDistancePrefilter idempotence is conjunct-scoped: an OR-disjunct guard does not suppress it") {
    graft.plans.EditDistancePrefilter.installOn(spark)
    val n = Tables.nation(spark, sf).select(org.apache.spark.sql.functions.col("n_name"))
    n.createOrReplaceTempView("v_edp_scope")

    // A semantically-equal guard inside a SIBLING Or disjunct cannot
    // short-circuit this disjunct's DP — the rule must still add one.
    val or = spark.sql(
      "SELECT * FROM v_edp_scope a, v_edp_scope b " +
        "WHERE (abs(length(a.n_name) - length(b.n_name)) <= 3 AND a.n_name = b.n_name) " +
        "OR levenshtein(a.n_name, b.n_name) <= 3")
    val op = or.queryExecution.optimizedPlan.toString
    assert("abs\\(".r.findAllIn(op).length === 2,
      s"the Or-disjunct guard must not suppress guarding the distance disjunct:\n$op")
    val orExpected = spark.sql(
      "SELECT count(*) AS c FROM v_edp_scope a, v_edp_scope b " +
        "WHERE (abs(length(a.n_name) - length(b.n_name)) <= 3 AND a.n_name = b.n_name) " +
        "OR levenshtein(a.n_name, b.n_name) + 0 <= 3").head().getLong(0)
    assert(or.count() === orExpected)

    // A DOMINATING conjunct-chain guard genuinely short-circuits the
    // DP (And evaluates it first) — the rule must NOT duplicate it.
    val and = spark.sql(
      "SELECT * FROM v_edp_scope a, v_edp_scope b " +
        "WHERE abs(length(a.n_name) - length(b.n_name)) <= 3 " +
        "AND levenshtein(a.n_name, b.n_name) <= 3")
    val ap = and.queryExecution.optimizedPlan.toString
    assert("abs\\(".r.findAllIn(ap).length === 1,
      s"a dominating hand-written guard must suppress the rewrite:\n$ap")
  }

  test("kappa / gini: bounded-table tails, no cartesian, vocab-not-corpus window") {
    // Kappa: one corpus aggregate to the |langs|² confusion matrix;
    // the row/col/cross joins run on that bounded table — keyed or
    // broadcast, never cartesian (the 1-row cross probe broadcasts).
    val kp = planOf("txt_langid_kappa")
    assert(!kp.contains("CartesianProduct"), kp)
    assert(!kp.contains("SortMergeJoin"), s"kappa tail joins must stay broadcast:\n$kp")
    // Gini: no joins at all; the rank window sorts the VOCAB table —
    // the plan's only exchanges are the vocab aggregate, the
    // single-partition window over it, and the final 1-row aggregate.
    val gn = planOf("txt_token_gini")
    assert(!gn.contains("Join"), s"gini must not join:\n$gn")
    // exactly one keyed exchange (the vocab aggregate) and one
    // single-partition gather (the vocab-bounded rank window)
    assert("hashpartitioning\\(".r.findAllIn(gn).length === 1, s"gini keyed exchanges:\n$gn")
    assert("SinglePartition".r.findAllIn(gn).length === 1, s"gini gather count:\n$gn")
  }

  test("native damerau_levenshtein participates in codegen (no interpreted fallback marker)") {
    val n = Tables.nation(spark, sf)
    val d = n.select(graft.functions.DamerauLevenshteinExpr.damerau_levenshtein(
      org.apache.spark.sql.functions.col("n_name"),
      org.apache.spark.sql.functions.lit("NATION_0")).as("v"))
    val p = d.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("codegen id"), p) // the Project evaluating the DP is codegen'd
    assert(d.collect().map(_.getInt(0)).min === 0) // NATION_0 itself is present
  }

  test("z-order key is a map-only projection over the scan") {
    val p = planOf("misc_zorder_key")
    assert(!p.contains("Exchange"), s"key computation must not shuffle:\n$p")
    assert(!p.contains("Join"), s"key computation must not join:\n$p")
  }

  test("above-avg decorrelated join carries no forced broadcast hint (avgs side is data-proportional)") {
    // The per-customer averages side grows linearly with the corpus; a
    // hard broadcast() hint on it OOMs the driver at 100 TB. AQE may
    // still *choose* a broadcast at small SF — that's fine; what must
    // never reappear is the hint that removes its choice.
    val q = df("rel_above_avg_orders")
    val hints = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
    }
    assert(hints.isEmpty, s"forced join hint present: ${hints.mkString(", ")}")
    val p = planOf("rel_above_avg_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("source filter: keep-set join is unhinted; AQE still broadcasts it at small SF") {
    val q = df("txt_source_filter")
    val hints = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
    }
    assert(hints.isEmpty, s"forced join hint present: ${hints.mkString(", ")}")
    q.collect() // materialize so AQE finalizes the physical plan
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"),
      "AQE did not broadcast the (small at this SF) keep set:\n" + executed)
    assert(!executed.contains("CartesianProduct"), executed)
  }

  test("salted join: physical join keys carry the salt, no broadcast-nested-loop") {
    val p = planOf("rel_join_salted_revenue")
    assert(p.contains("__salt"), "salt key missing from the plan:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ShingleRewrite: composed distinct-shingle explode becomes the native generator") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.plans.ShingleRewrite.installOn(spark)
    val docs = Seq((1L, "a b c d e"), (2L, "a b"), (3L, "x y z a b c")).toDF("doc_id", "text")
    def composed(n: Int) = docs.select(
      col("doc_id"),
      explode(array_distinct(
        graft.ops.Text.shingles(graft.ops.Text.tokens(col("text")), n))).as("sh"),
    )
    // the rule fires: optimized plan generates via ShingleGen
    val gens = composed(3).queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }
    assert(gens.exists(_.isInstanceOf[graft.functions.ShingleGen]),
      "composed form not rewritten: " + gens.mkString(", "))
    // and stays row-equal to the library's native path
    for (n <- Seq(1, 2, 3)) {
      val got = composed(n).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = graft.ops.Dedup.shingleSets(docs, "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === want, s"n=$n")
    }
    // conservative boundary: without array_distinct the semantics differ
    // (duplicate shingles survive) and the rule must NOT fire
    val nodedup = docs.select(
      col("doc_id"),
      explode(graft.ops.Text.shingles(graft.ops.Text.tokens(col("text")), 2)).as("sh"),
    )
    val gens2 = nodedup.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }
    assert(!gens2.exists(_.isInstanceOf[graft.functions.ShingleGen]))
  }

  test("ShingleRewrite: project-bound form (tokens aliased in a lower SELECT) also fires") {
    import org.apache.spark.sql.functions._
    graft.plans.ShingleRewrite.installOn(spark)
    // A FILE source, not a local Seq: over a LocalRelation the optimizer's
    // ConvertToLocalRelation evaluates the lower Project eagerly and the
    // token alias this test exists to exercise disappears before our rule
    // runs. Parquet-backed plans keep the Project — the production shape.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the natural two-step user shape: alias the token array, then explode
    def bound(n: Int) = docs
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        explode(array_distinct(graft.ops.Text.shingles(col("toks"), n))).as("sh"),
      )
    val gens = bound(3).queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }
    assert(
      gens.exists(_.isInstanceOf[graft.functions.ShingleGen]),
      "project-bound form not rewritten: " + gens.mkString(", "),
    )
    // row-equal to the native path for several n
    for (n <- Seq(1, 2, 3)) {
      val got  = bound(n).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = graft.ops.Dedup
        .shingleSets(docs, "doc_id", "text", n)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSet
      assert(got === want, s"n=$n")
    }
    // an alias whose text column is consumed ABOVE the explode as well:
    // output must be unchanged (pass-through attr restored, not dropped)
    val keepText = docs
      .select(col("doc_id"), col("text"), graft.ops.Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        col("text"),
        explode(array_distinct(graft.ops.Text.shingles(col("toks"), 2))).as("sh"),
      )
    val gotKeep = keepText.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val wantKeep = docs
      .join(
        graft.ops.Dedup.shingleSets(docs, "doc_id", "text", 2),
        "doc_id",
      )
      .select(col("doc_id"), col("text"), col("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(gotKeep === wantKeep)
  }

  test("ShingleRewrite: nondeterministic alias consumed above the explode blocks the rewrite") {
    import org.apache.spark.sql.functions._
    graft.plans.ShingleRewrite.installOn(spark)
    // rand() is computed once per INPUT row in the original plan (all
    // exploded copies of a row share the value); pulling it above the
    // Generate would re-draw it per exploded row. The rule must leave
    // this plan alone.
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val q = docs
      .select(col("doc_id"), rand(42).as("r"), graft.ops.Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        col("r"),
        explode(array_distinct(graft.ops.Text.shingles(col("toks"), 2))).as("sh"),
      )
    val gens = q.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }
    assert(!gens.exists(_.isInstanceOf[graft.functions.ShingleGen]),
      "rewrite fired across a nondeterministic projection: " + gens.mkString(", "))
    // and the per-row sharing the guard protects is actually observable:
    // every exploded copy of a doc carries ONE r value
    val perDoc = q.groupBy("doc_id").agg(countDistinct(col("r")).as("nr"))
      .agg(max(col("nr"))).head().getLong(0)
    assert(perDoc === 1L, s"rand re-drawn per exploded row (max distinct per doc = $perDoc)")
    // a nondeterministic alias NOT consumed above the explode is pruned
    // by the optimizer before this rule sees it — the rewrite still fires
    val pruned = docs
      .select(col("doc_id"), rand(42).as("r"), graft.ops.Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        explode(array_distinct(graft.ops.Text.shingles(col("toks"), 2))).as("sh"),
      )
    val gens2 = pruned.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }
    assert(gens2.exists(_.isInstanceOf[graft.functions.ShingleGen]),
      "rewrite should fire once the nondeterministic alias is pruned: " + gens2.mkString(", "))
  }

  test("native float_dot participates in codegen (no interpreted fallback marker)") {
    val emb = Tables.embeddings(spark, sf)
    val d = emb.select(graft.functions.FloatVecDot.float_dot(
      org.apache.spark.sql.functions.col("embedding"),
      org.apache.spark.sql.functions.col("embedding")).as("v"))
    val p = d.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("codegen id"), p) // the Project evaluating float_dot is codegen'd
    // and it evaluates
    assert(d.head().getDouble(0) > 0.0)
  }

  test("column profiler is one unpivot + one aggregation — no Expand, single exchange") {
    import org.apache.spark.sql.functions.col
    // A multi-COUNT(DISTINCT) formulation plans an Expand (k grouping
    // copies of every row through the shuffle); the unpivot form must
    // not. Exactly one exchange: the k-key final aggregation (the
    // distinct-within-group pre-aggregation reuses its partitioning).
    val rep = graft.ops.Profile.profile(
      Tables.documents(spark, sf),
      Seq(("doc_id", true), ("lang", false)),
    )
    val p = rep.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Expand"), s"profiler plans an Expand:\n$p")
    // Exact form: the two-phase distinct ((column, value) shuffle, then
    // (column) shuffle) — 2 exchanges, with a partial aggregate before
    // the first so full rows never shuffle.
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length === 2, p)
    // The HLL twin drops the distinct shuffle: ONE exchange carrying k
    // mergeable sketches — the 100 TB shape the scaladoc claims.
    val ap = graft.ops.Profile
      .profileApprox(Tables.documents(spark, sf), Seq(("doc_id", true), ("lang", false)))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!ap.contains("Expand"), s"approx profiler plans an Expand:\n$ap")
    assert("\\(\\d+\\) Exchange".r.findAllIn(ap).length === 1, ap)
    // sanity: the lazy plan evaluates
    assert(rep.count() === 2)
  }

  test("date predicate on a partitioned layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions.{col, to_date}
    import spark.implicits._
    // The landing layout is day-partitioned exactly so retention and
    // incremental reads touch only their days; this pins that a
    // loaded_date predicate becomes a PartitionFilter (metadata-only
    // pruning — zero data files of other days opened), not a post-scan
    // Filter over every file.
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Seq(("u1", "2024-01-05"), ("u2", "2024-02-10"), ("u3", "2024-03-01"))
      .toDF("finding_uid", "d")
      .withColumn("loaded_date", to_date($"d"))
      .drop("d")
      .write
      .mode("overwrite") // createTempDirectory pre-creates the path
      .partitionBy("loaded_date")
      .parquet(dir)
    val q = spark.read.parquet(dir).filter(col("loaded_date") >= "2024-02-01")
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("loaded_date"), s"date predicate not in PartitionFilters:\n$p")
    // and the pruning actually bites: execute q ITSELF (a derived query
    // would leave q's own scan unexecuted and its numFiles metric at 0,
    // making the file-count check vacuous), then read its scan metrics
    val rows = q.collect()
    assert(rows.map(_.getAs[String]("finding_uid")).sorted === Array("u2", "u3"))
    // AQE wraps the scan; unwrap like ShuffleAudit.walkPlan before
    // reading metrics, and require the metric to be FOUND (a silent 0
    // from an unexecuted or unreachable scan must fail, not pass).
    def numFiles(n: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
      val self = n.metrics.get("numFiles").map(_.value).toSeq
      val kids = n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case sq: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(sq.plan)
        case other                                                      => other.children
      }
      self ++ kids.flatMap(numFiles)
    }
    val scanned = numFiles(q.queryExecution.executedPlan)
    assert(scanned.nonEmpty, s"no numFiles metric found in executed plan:\n$p")
    assert(scanned.sum === 2, s"expected exactly 2 files after pruning, scanned $scanned:\n$p")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("dim-filtered join prunes fact partitions at runtime (dynamic partition pruning)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // Static pruning (previous test) needs the predicate on the
    // partition column itself; at 100 TB the selective predicate
    // usually sits on a DIMENSION joined to the partitioned fact. DPP
    // plants a runtime subquery into the fact scan's PartitionFilters
    // so only the dim-selected partitions are read. Pin that it fires.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    (1 to 1000)
      .map(i => (i.toLong, i % 10))
      .toDF("v", "day")
      .write
      .mode("overwrite")
      .partitionBy("day")
      .parquet(dir)
    // The dim must be a real source with a post-scan Filter —
    // a LocalRelation constant-folds the predicate away and DPP's
    // selectivity check never sees one.
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq((3, "keep"), (7, "keep"), (5, "drop"))
      .toDF("day", "tag")
      .write
      .mode("overwrite")
      .parquet(dimDir)
    val dim  = spark.read.parquet(dimDir)
    val fact = spark.read.parquet(dir)
    val q    = fact.join(dim.filter(col("tag") === "keep"), "day")
    val p    = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning in plan:\n$p")
    assert(q.count() === 200L) // 2 of 10 day-partitions survive
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dimDir))
  }

  test("selective dim join injects a runtime bloom filter into the fact scan side") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // DPP (previous tests) prunes PARTITIONS; Catalyst's runtime bloom
    // filter is the row-level sibling for joins on NON-partition
    // columns: a selective dim side builds a bloom over its join keys
    // and the fact side filters rows before the shuffle. At 100 TB
    // that is the difference between shuffling the fact table and
    // shuffling the ~matching slice. Pin that the capability engages
    // (thresholds are sized for clusters, so they are lowered here —
    // the pin is the rewrite firing, not the default sizing).
    val factDir = java.nio.file.Files.createTempDirectory("graft_rbf_fact").toString
    val dimDir  = java.nio.file.Files.createTempDirectory("graft_rbf_dim").toString
    (1 to 20000).map(i => (i.toLong, i.toLong % 997)).toDF("v", "k")
      .write.mode("overwrite").parquet(factDir)
    (0 to 996).map(i => (i.toLong, if (i % 100 == 0) "keep" else "drop")).toDF("k", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      // a broadcast join would not shuffle the fact side; force the
      // shuffle-join shape the filter exists to protect
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = spark.read.parquet(factDir)
      val dim  = spark.read.parquet(dimDir).filter(col("tag") === "keep")
      val q    = fact.join(dim, "k")
      val p    = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(
        p.contains("bloom_filter_agg") || p.toLowerCase.contains("bloomfilter"),
        s"runtime bloom filter did not inject:\n$p",
      )
      // and it is semantics-preserving: 10 keep-keys × ~20 fact rows each
      assert(q.count() === (1 to 20000).count(i => i % 997 % 100 == 0 && i % 997 <= 996).toLong)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(factDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dimDir))
  }

  test("stored IVF probe reads only the probed cells' partition files") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // The serving contract of ivfTopKFromStoredIndex: the probed cell
    // set becomes a PARTITION filter on the cent_id-partitioned index,
    // so the scan opens nprobe-many cells' files, not the corpus. Pin
    // both the filter placement and the executed file count.
    val dirs = Seq(
      Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f), Array(0f, -1f),
    )
    // ids 0..3 are the id-ordered centroid seeds (one per direction);
    // 4..11 two more members per cell, slightly rotated
    val corpus = dirs.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 8).map { i =>
        val d = dirs(i % 4)
        (4L + i, Array(d(0) * 0.9f + d(1) * 0.1f, d(1) * 0.9f + d(0) * 0.1f))
      }
    val emb = corpus.toDF("vec_id", "embedding")
    val centroids = graft.ops.Similarity.ivfCentroids(emb, "vec_id", "embedding", 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_prune").toString
    graft.ops.Similarity
      .ivfIndex(emb, "vec_id", "embedding", centroids)
      .write.mode("overwrite").partitionBy("cent_id").parquet(dir)
    // one query vector between cells 0 and 1 → probes exactly those 2
    val q = graft.ops.Similarity.ivfTopKFromStoredIndex(
      spark, dir,
      queries = Seq((100L, Array(0.9f, 0.45f))).toDF("vec_id", "embedding"),
      idCol = "vec_id", embCol = "embedding", k = 3, centroids = centroids, nprobe = 2)
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("cent_id"), s"probed-cell set not in PartitionFilters:\n$p")
    val rows = q.collect()
    // neighbors come only from cells 0 and 1
    assert(rows.nonEmpty && rows.forall(r => Set(0L, 1L, 4L, 5L, 8L, 9L).contains(r.getAs[Long]("n_id"))))
    def numFiles(n: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
      val self = n.metrics.get("numFiles").map(_.value).toSeq
      val kids = n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case sq: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(sq.plan)
        case other                                                      => other.children
      }
      self ++ kids.flatMap(numFiles)
    }
    val scanned = numFiles(q.queryExecution.executedPlan).filter(_ > 0)
    assert(scanned.nonEmpty, s"no executed numFiles metric found:\n$p")
    // 4 cells on disk; only the 2 probed ones may be read
    assert(scanned.max <= 2, s"index scan read ${scanned.max} files, expected <= 2:\n$p")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("triangle census joins are keyed — no cartesian / nested-loop anywhere") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val p = graft.ops.Graph
      .censusPlan(e)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // The only nested-loop joins allowed are the TWO 1-row census
    // stitches (crossJoins of single-row aggregates); an unkeyed wedge
    // build or closure probe would add a third nested-loop (or a
    // CartesianProduct) and trip this.
    assert(!p.contains("CartesianProduct"), s"census plans a cartesian product:\n$p")
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj == 2, s"expected exactly the 2 one-row census stitches, got $bnlj:\n$p")
    assert(p.contains("LeftSemi"), s"closure probe is not a semi join:\n$p")
  }

  /** Pre-order walk that crosses AQE stage boundaries (plain
    * `SparkPlan.collect` stops at `QueryStageExec`). */
  private def walkPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case sq: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(sq.plan)
      case other                                                      => other.children
    }
    p +: kids.flatMap(walkPlan)
  }

  private def windowSpecs(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    walkPlan(plan).collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }

  private def hasAggBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    walkPlan(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])

  test("packWindows: the corpus cumsum is per-shard; only the |shards|-row base table sees a global window") {
    val q = df("txt_pack_manifest")
    q.collect() // resolve AQE so the final plan is inspectable
    val ws = windowSpecs(q.queryExecution.executedPlan)
    assert(ws.nonEmpty, "no window in the pack plan")
    val (global, sharded) = ws.partition(_.partitionSpec.isEmpty)
    // exactly one unpartitioned window — the shard-base cumsum — and it
    // must sit on an AGGREGATED input (the |shards|-row totals), never
    // the corpus; the corpus-proportional cumsum must carry a partition
    assert(sharded.nonEmpty, "corpus cumsum lost its shard partitioning")
    assert(global.length === 1, s"expected exactly 1 bounded global window, got ${global.length}")
    assert(hasAggBelow(global.head.child),
      "global window runs over a non-aggregated (corpus-sized) input")
  }

  test("skyline: the global sweep runs over the per-x aggregate, not the corpus") {
    val q = df("rel_skyline_parts")
    q.collect()
    val ws = windowSpecs(q.queryExecution.executedPlan)
    val global = ws.filter(_.partitionSpec.isEmpty)
    assert(global.length === 1, s"expected 1 sweep window, got ${global.length}")
    assert(hasAggBelow(global.head.child), "sweep window input is not the x-domain aggregate")
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), s"skyline plans a cartesian:\n$p")
  }

  test("bloom probe: the bit join broadcasts the filter side") {
    val p = planOf("misc_bloom_membership")
    assert(p.contains("BroadcastHashJoin"), s"bit join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("collocations: top-k is TakeOrdered over the thinned table, no global sort") {
    val p = planOf("txt_collocations")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    // the only Sort allowed is the one inside the k-row rank window
    val sorts = p.linesIterator.count(l => l.contains("Sort ") && !l.contains("TakeOrdered"))
    assert(sorts <= 1, s"unexpected corpus-wide sort(s):\n$p")
  }

  test("bucketed join: no shuffle feeds the join; only the aggregation exchanges") {
    // at demo SF the planner may broadcast the tiny bucketed side —
    // also shuffle-free; what must NEVER appear is a second shuffle
    // Exchange re-partitioning either bucketed input
    val p = planOf("rel_join_bucketed")
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(shuffles <= 1, s"bucketed sides must not re-shuffle (got $shuffles):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("epoch expansion and skip-gram pairs are map-only up to their one aggregation") {
    for (name <- Seq("misc_sample_epochs", "txt_skipgram_pairs")) {
      val p = planOf(name)
      val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      assert(shuffles <= 1, s"$name: expansion must not shuffle (got $shuffles):\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("semi-hard negatives: query side broadcasts; candidate corpus never does") {
    val p = planOf("sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the positive-ceiling join is |Q|-row, must be broadcast too —
    // SortMergeJoin anywhere means a corpus-sized shuffle crept in
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("r13 gates: hilbert is map-only; kNN joins keyed; bootstrap amplification pre-aggregates") {
    // Hilbert key: a pure projection over the scan — no exchange, no
    // join, and the packed-state fold stays inside codegen (a UDF or
    // an expression blowup would show here as interpreter fallback).
    val hk = planOf("misc_hilbert_key")
    assert(!hk.contains("Exchange") && !hk.contains("Join"),
      s"hilbertKey must be map-only:\n$hk")
    // kNN graph: every join is keyed — the SRP candidate join on
    // (band, key), the norm join-backs, the reciprocity self-join.
    // Nothing may plan cartesian or nested-loop.
    val kg = planOf("sim_knn_graph_auto")
    assert(!kg.contains("CartesianProduct") && !kg.contains("BroadcastNestedLoopJoin"),
      s"kNN graph joins must be keyed:\n$kg")
    // Poisson bootstrap: the 30M-row amplification must reduce through
    // a map-side partial aggregation (only 2×B partial rows reach the
    // exchange — the ShuffleBudgetSpec pin proves the byte bill, this
    // pin proves the plan shape that produces it).
    val bc = planOf("misc_bootstrap_ci")
    assert(bc.contains("partial_sum"), s"bootstrap resamples must pre-aggregate:\n$bc")
    assert(!bc.contains("CartesianProduct") || bc.contains("BroadcastExchange"),
      s"bootstrap CI cross join must be a 1-row broadcast:\n$bc")
    // Nearest as-of: two window scans + the pick — no range join, no
    // cartesian anywhere.
    val an = planOf("evt_asof_nearest")
    assert(!an.contains("CartesianProduct") && !an.contains("BroadcastNestedLoopJoin"),
      s"nearest as-of must stay a union-scan composition:\n$an")
    // Stump gini: ONE aggregation pass for all features (the unpivot
    // is map-side stack), so exactly two keyed exchanges: cells and
    // the per-feature rollup.
    val sg = planOf("misc_stump_gini")
    assert("\\(\\d+\\) Exchange".r.findAllIn(sg).length <= 2,
      s"stumpGini must aggregate all features in one pass:\n$sg")
  }

  test("kleinberg2 skew cap: the rank window guards only the hot branch; hot list broadcasts") {
    // the structural per-key cap must not make every corpus row pay a
    // sort: exactly ONE Window (over the hot semi-join branch, normally
    // empty) and the over-cap key list reaches it via broadcast joins —
    // a plan where the window count grows or the joins turn into
    // shuffles re-introduces the corpus-wide sort the idiom avoids
    val p = planOf("evt_burst_detect")
    // formatted mode prints each node twice (tree + "(N) Window" detail
    // header); count the detail headers, which appear exactly once per node
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window"""))
    assert(windows == 1, s"expected exactly one Window operator (hot branch only), got $windows:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "hot-key list must broadcast into the semi/anti joins:\n" + p)
    assert(!p.contains("SortMergeJoin"), "hot-key guard joins must not SMJ:\n" + p)
  }

  test("isotonic fit: one map-side-combinable histogram aggregation feeds the driver sweep") {
    val hist = graft.ops.Stats
      .isotonicFit(
        SparkEntry.queries("rel_agg_pricing_summary")(spark, sf).sparkSession
          .read.parquet(s"$sf/orders.parquet"),
        org.apache.spark.sql.functions.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 20000"),
        org.apache.spark.sql.functions.expr("o_orderpriority = '1-URGENT'"),
      )
    // the output itself is a local (driver-built) relation: the corpus
    // work happened in the ONE aggregation before the bounded collect
    val plan = hist.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("LocalTableScan") || plan.contains("Scan ExistingRDD"),
      "isotonic output must be a driver-built bounded relation:\n" + plan)
  }

  test("r16 KLL gates: two-phase partial aggregation; splits/acceptance joins broadcast") {
    // the sketch must combine map-side (partial ObjectHashAggregate
    // before the exchange) — a single-phase plan would ship every raw
    // value to one reducer, which is exactly what the sketch exists to
    // avoid at 100 TB
    val pq = planOf("misc_kll_quantiles")
    assert(pq.split("ObjectHashAggregate").length - 1 >= 2,
      s"expected partial+final sketch phases:\n$pq")
    assert(pq.contains("partial_"), pq)
    // split points: the n−1-row split table reaches the corpus-side
    // acceptance count via broadcast, never a shuffle or cartesian
    val ps = planOf("misc_kll_splits")
    assert(ps.contains("BroadcastNestedLoopJoin") || ps.contains("BroadcastExchange"), ps)
    assert(!ps.contains("SortMergeJoin"), s"splits acceptance must not SMJ:\n$ps")
  }

  test("hampel: every window partitions by key (no corpus-wide sort); grid span broadcasts") {
    val p = planOf("evt_hampel_outliers")
    // formatted mode: each Window detail header lists its partition
    // spec — none may be empty (a global window would sort the corpus
    // through one partition at scale)
    val windowDetails = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowDetails.nonEmpty, s"expected window details:\n$p")
    windowDetails.foreach(l =>
      assert(l.contains("key#") || l.contains("partitionby"),
        s"window must partition by key:\n$l"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row span must broadcast into the grid:\n" + p)
  }

  test("filtered ivf: predicate composes with the probe join without SMJ or cartesian") {
    val p = planOf("sim_ann_ivf_filtered_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "query side must broadcast into probed cells:\n" + p)
  }

  test("dtw barycenter: series and medoid sides broadcast; no sort-merge join anywhere") {
    val p = planOf("evt_dtw_barycenter")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "medoid/series sides must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), s"type-count-bounded joins must not SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
}
