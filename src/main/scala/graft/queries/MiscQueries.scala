package graft.queries

import graft.Tables._
import org.apache.spark.sql.functions._

/** Operators whose output is legitimately engine-specific (sketches,
  * sampling): registered without an oracle, so the driver records the
  * weaker rows-only check. Exact counterparts are oracle-checked
  * elsewhere (`rel_agg_count_distinct`, full scans).
  */
object MiscQueries {

  /** The lineitem⋈orders trade projection (part, supplier, customer
    * per line) feeds three graph queries — both PageRanks and the
    * triangle census — each deriving a different edge list from it.
    * Materialized once per (session, corpus) like
    * [[DedupQueries]]' shingle table. */
  private val sharedTradeRows = Shared("trade_rows", Set(
    "misc_pagerank_trade", "misc_pagerank_weighted", "misc_triangle_census", "misc_kcore",
    "misc_labelprop", "misc_bfs_khop", "misc_sssp_bounded", "misc_clustering_coeff",
    "misc_ppr_trade", "misc_link_predict", "misc_hits_trade",
  )) { (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** This suite's shared artifacts, in prewarm order. */
  private[graft] def artifacts: Seq[Shared[_]] =
    Seq(sharedTradeRows, coPurchasePairs, coPurchaseEdges)

  def prewarmShared(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      selected: Option[Set[String]] = None,
  ): Seq[(String, Double)] = Shared.prewarm(artifacts, s, d, selected)

  /** HyperLogLog++ approximate distinct (mergeable sketch — the
    * scalable form of COUNT(DISTINCT) at 100 TB), checked as an
    * error-bound DIFFERENTIAL rather than rows-only: the query emits
    * the exact distinct counts plus a boolean per sketch asserting
    * |approx − exact| ≤ 3·rsd·exact (rsd = 0.05, the
    * approx_count_distinct default; 3σ of the HLL++ estimator). The
    * oracle computes the exact counts and literal TRUE — HLL++ is
    * deterministic for a given dataset, so if the sketch ever drifts
    * past its bound the boolean flips and the hash check FAILS. The
    * estimates themselves stay out of the compared columns because
    * their exact values are engine-specific. */
  private val approxDistinct = Q(
    "misc_approx_count_distinct",
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_suppkey) AS exact_supps,
      |  COUNT(*) AS n,
      |  TRUE AS parts_within_bound,
      |  TRUE AS supps_within_bound
      |FROM lineitem GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        count(lit(1)).as("n"),
      )
      .select(
        col("l_returnflag"),
        col("exact_parts"),
        col("exact_supps"),
        col("n"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * lit(0.15)).as("parts_within_bound"),
        (abs(col("approx_supps") - col("exact_supps"))
          <= col("exact_supps") * lit(0.15)).as("supps_within_bound"),
      )
  }

  /** Seeded Bernoulli sample (deterministic per partitioning, but not
    * reproducible across engines — rows-only check). */
  private val sample = Q.noOracle("misc_sample") { (s, d) =>
    orders(s, d).sample(withReplacement = false, fraction = 0.1, seed = 42)
  }

  /** Native SQL surface of the custom codegen'd expression
    * ([[graft.functions.FloatVecDot]] via
    * [[graft.GraftExtensions.register]]): self dot products through SQL text. */
  private val floatDotSql = Q(
    "misc_float_dot_sql",
    s"""SELECT vec_id,
       |  list_reduce(list_transform(generate_series(1, len(embedding)),
       |              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |              (x, y) -> x + y) AS self_dot
       |FROM embeddings""".stripMargin,
  ) { (s, d) =>
    graft.GraftExtensions.register(s)
    embeddings(s, d).createOrReplaceTempView("v_embeddings")
    s.sql("SELECT vec_id, float_dot(embedding, embedding) AS self_dot FROM v_embeddings")
  }

  /** Mergeable HLL sketches: per-group sketches unioned into a global
    * estimate — the composable form of distinct counting across
    * partitions/tables at 100 TB. Error-bound differential like
    * `misc_approx_count_distinct`: the unioned estimate must land
    * within 15% of the exact global distinct (generous vs the ~1.6%
    * rsd of the default lgConfigK=12 Datasketches HLL), asserted as a
    * boolean the oracle expects to be TRUE — a broken sketch or union
    * flips it and fails the hash check. The estimate itself is
    * engine-specific and stays out of the compared columns. */
  private val hllSketchUnion = Q(
    "misc_hll_sketch_union",
    """SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS within_bound
      |FROM lineitem""".stripMargin,
  ) { (s, d) =>
    val est = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = lineitem(s, d).agg(countDistinct(col("l_partkey")).as("exact_parts"))
    est
      .crossJoin(exact) // two 1-row sides
      .select(
        col("exact_parts"),
        (abs(col("est") - col("exact_parts")) <= col("exact_parts") * lit(0.15))
          .as("within_bound"),
      )
  }

  /** Deterministic hash-bucket sampling: ~10% of orders selected by a
    * stable content hash, so the sample is reproducible across engines
    * and runs (the repeatable-experiment form of sampling; Bernoulli
    * `sample()` above stays engine-specific). Exact-oracle-checked. */
  private val sampleHash = Q(
    "misc_sample_hash",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE CAST(('0x' || substr(md5(coalesce(CAST(o_orderkey AS VARCHAR), '')), 1, 6)) AS BIGINT) % 10 = 0
      |""".stripMargin,
  ) { (s, d) =>
    orders(s, d)
      // null keys coalesce to '' — the Sampling.hash24 convention, and
      // what the oracle's coalesce(CAST(...)) replays
      .filter(conv(
        substring(md5(coalesce(col("o_orderkey").cast("string"), lit(""))), 1, 6), 16, 10)
        .cast("long") % 10 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** PPS (probability-proportional-to-size) Poisson sampling — the
    * weighted member of the sampling ladder (big orders are more
    * likely to be audited/sampled): include row i with probability
    * k·wᵢ/Σw, decided by the deterministic md5 uniform and the EXACT
    * integer cross-multiplication
    *
    *   hash24(id) · Σw  <  k · wᵢ · 2²⁴
    *
    * — both products through DECIMAL(38,0)/HUGEINT (Σw·2²⁴ overflows
    * BIGINT at warehouse scale), so the sample is engine-replayable
    * with no float probability anywhere. Weights > Σw/k are always
    * kept (the standard clipped-probability behavior, implicit).
    * Scale shape: one broadcast 1-row total + a map-only predicate. */
  private val samplePps = Q(
    "misc_sample_pps",
    """WITH w AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_totalprice > 0),
      |t AS (SELECT CAST(sum(cents) AS HUGEINT) AS tot FROM w)
      |SELECT o_orderkey, cents
      |FROM w, t
      |WHERE CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT)
      |           AS HUGEINT) * tot
      |      < 500 * CAST(cents AS HUGEINT) * 16777216""".stripMargin,
  ) { (s, d) =>
    val w = orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
      )
    // sum in DECIMAL, not LongType-then-cast: the oracle's HUGEINT total
    // never wraps, so the Spark total must not either
    w.crossJoin(broadcast(w.agg(sum(col("cents").cast("decimal(38,0)")).as("tot"))))
      .filter(
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
          .cast("decimal(38,0)") * col("tot") <
          lit(500L) * col("cents").cast("decimal(38,0)") * lit(16777216L)
      )
      .select("o_orderkey", "cents")
  }

  /** Generator surface (UDTF-shaped): sequence construction + explode,
    * one output row per generated element (DuckDB: unnest of
    * generate_series). */
  private val sequenceExplode = Q(
    "misc_sequence_explode",
    """SELECT n_nationkey, unnest(generate_series(0, n_nationkey % 5)) AS i
      |FROM nation""".stripMargin,
  ) { (s, d) =>
    nation(s, d)
      .select(col("n_nationkey"), explode(sequence(lit(0L), col("n_nationkey") % 5)).as("i"))
  }

  /** JSON round trip: from_json with an explicit schema, field access on
    * the parsed struct, and to_json re-serialization — the full
    * string→struct→string path (DuckDB mirrors with json_extract +
    * json_object; both engines emit compact `{"k":v}` framing). */
  private val jsonRoundtrip = Q(
    "misc_json_roundtrip",
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |  CAST(json_object('k', CAST(json_extract(props, '$.k') AS BIGINT),
      |                   'type', event_type) AS VARCHAR) AS reframed
      |FROM events""".stripMargin,
  ) { (s, d) =>
    graft.Tables.events(s, d)
      .select(
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"),
        // ignoreNullFields=false: Spark's default DROPS null fields
        // while the oracle's json_object emits "k":null — latent until
        // a props row without k appears
        to_json(
          struct(
            from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"),
            col("event_type").as("type"),
          ),
          java.util.Map.of("ignoreNullFields", "false"),
        ).as("reframed"),
      )
  }

  /** Stratified deterministic sampling over the documents corpus — the
    * training-mix re-balancing operation ([[graft.ops.Sampling]]):
    * per-source keep rates as a literal CASE inside a scan-local
    * predicate, content-hash decision variable, so the kept set is
    * exactly reproducible in any engine (src2 dropped entirely, src0
    * quartered, src1 halved, src3 at 3/4, everything else kept). */
  private val sampleStratified = Q(
    "misc_sample_stratified",
    """SELECT doc_id, source FROM documents
      |WHERE CAST(('0x' || substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 6)) AS BIGINT) / 16777216.0
      |  < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
      |                 WHEN 'src2' THEN 0.0 WHEN 'src3' THEN 0.75 ELSE 1.0 END)
      |""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling
      .stratified(
        graft.Tables.documents(s, d),
        keyCol = "doc_id",
        strataCol = "source",
        rates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0, "src3" -> 0.75),
      )
      .select("doc_id", "source")
  }

  /** Temperature-balanced corpus mixing at α = 1/2
    * ([[graft.ops.Sampling.temperatureSqrt]]): target shares ∝ √n_s —
    * the mT5/XLM-R low-resource lift — realized as hash-predicate
    * Bernoulli rates computed from integerized √-weights, so the
    * entire keep/drop decision is bit-reproducible (sqrt is correctly
    * rounded in every IEEE engine; a general pow would not be). The
    * oracle recomputes the weights, the exact integer weight sum, and
    * the one double multiply/divide per stratum. */
  private val sampleTemperature = Q(
    "misc_sample_temperature",
    """WITH c AS (SELECT source, count(*) AS n FROM documents
      |           WHERE source IS NOT NULL GROUP BY 1),
      |q AS (SELECT source, n,
      |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS qs FROM c),
      |s AS (SELECT CAST(sum(qs) AS BIGINT) AS tot FROM q),
      |r AS (SELECT source, (200.0 * qs) / (CAST(tot AS DOUBLE) * n) AS rate
      |      FROM q CROSS JOIN s)
      |SELECT d.doc_id, d.source FROM documents d JOIN r ON r.source = d.source
      |WHERE CAST(('0x' || substr(md5(coalesce(CAST(d.doc_id AS VARCHAR), '')), 1, 6)) AS BIGINT) / 16777216.0
      |  < r.rate""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling
      .temperatureSqrt(graft.Tables.documents(s, d), "doc_id", "source", budget = 200L)
      .select("doc_id", "source")
  }

  /** Count-Min Sketch heavy hitters ([[graft.ops.Cms]]): a 4×256
    * sketch over lineitem part keys (d hash aggregations — Spark's
    * partial aggregation IS the sketch's mergeability), then point
    * estimates for the 10 heaviest exact keys. md5-bucket hashing
    * makes the whole sketch engine-replayable, so the oracle checks
    * EXACT estimate equality, not just the εN bound; the
    * `no_underestimate` column pins the CMS one-sided-error
    * guarantee on top. */
  private val cmsHeavyHitters = Q(
    "misc_cms_heavy_hitters",
    """WITH ks AS (SELECT l_partkey AS k FROM lineitem),
      |rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
      |c AS (SELECT r AS row_,
      |        CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || coalesce(CAST(k AS VARCHAR), '')), 1, 6)) AS BIGINT) % 256 AS bucket,
      |        count(*) AS cnt
      |      FROM ks, rows_ GROUP BY 1, 2),
      |exact AS (SELECT k, count(*) AS exact_cnt FROM ks GROUP BY 1
      |          ORDER BY exact_cnt DESC, k LIMIT 10),
      |est AS (SELECT e.k, e.exact_cnt, min(coalesce(c.cnt, 0)) AS cms_estimate
      |        FROM exact e CROSS JOIN rows_ rr
      |        LEFT JOIN c ON c.row_ = rr.r
      |          AND c.bucket = CAST(('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || coalesce(CAST(e.k AS VARCHAR), '')), 1, 6)) AS BIGINT) % 256
      |        GROUP BY 1, 2)
      |SELECT k AS l_partkey, exact_cnt, CAST(cms_estimate AS BIGINT) AS cms_estimate,
      |  cms_estimate >= exact_cnt AS no_underestimate
      |FROM est""".stripMargin,
  ) { (s, d) =>
    val keys = lineitem(s, d).select(col("l_partkey"))
    val sk   = graft.ops.Cms.sketch(keys, "l_partkey", depth = 4, width = 256)
    val exact = keys
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("l_partkey"))
      .limit(10)
    graft.ops.Cms
      .estimate(sk, exact, "l_partkey", depth = 4, width = 256)
      .join(exact, "l_partkey")
      .select(
        col("l_partkey"),
        col("exact_cnt"),
        col("cms_estimate"),
        (col("cms_estimate") >= col("exact_cnt")).as("no_underestimate"),
      )
  }

  /** Join-size estimation from two Count-Min sketches
    * (the inner-product estimator, min over hash rows) — costing
    * |lineitem ⋈ lineitem('R')| on partkey from two d×w summaries
    * without executing the join, the optimizer's cardinality-probe
    * use of CMS. md5 bucketing makes both sketches engine-replayable,
    * so the oracle checks EXACT estimate equality (not the ε·|A|·|B|
    * bound), and `no_underestimate` pins the estimator's one-sided
    * guarantee against the true join size computed the expensive way. */
  private val cmsJoinSize = Q(
    "misc_cms_join_size",
    """WITH ka AS (SELECT l_partkey AS k FROM lineitem),
      |kb AS (SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'),
      |rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
      |sa AS (SELECT r AS row_,
      |         CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || coalesce(CAST(k AS VARCHAR), '')), 1, 6)) AS BIGINT) % 16384 AS bucket,
      |         count(*) AS cnt
      |       FROM ka, rows_ GROUP BY 1, 2),
      |sb AS (SELECT r AS row_,
      |         CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || coalesce(CAST(k AS VARCHAR), '')), 1, 6)) AS BIGINT) % 16384 AS bucket,
      |         count(*) AS cnt
      |       FROM kb, rows_ GROUP BY 1, 2),
      |dots AS (SELECT sa.row_, sum(sa.cnt * sb.cnt) AS dot
      |         FROM sa JOIN sb ON sa.row_ = sb.row_ AND sa.bucket = sb.bucket GROUP BY 1),
      |est AS (SELECT min(dot) AS join_size_est FROM dots),
      |exact AS (SELECT CAST(sum(ca.n * cb.n) AS BIGINT) AS join_size_exact
      |          FROM (SELECT k, count(*) AS n FROM ka GROUP BY 1) ca
      |          JOIN (SELECT k, count(*) AS n FROM kb GROUP BY 1) cb USING (k))
      |SELECT CAST(join_size_est AS BIGINT) AS join_size_est, join_size_exact,
      |  join_size_est >= join_size_exact AS no_underestimate
      |FROM est CROSS JOIN exact""".stripMargin,
  ) { (s, d) =>
    // Both "tables" come from ONE scan here, so the two sketches fuse
    // into a single (row, bucket) aggregate with a conditional count —
    // same counters as two Cms.sketch calls (identical hashing), half
    // the passes, and the (row, bucket) join disappears because both
    // counters share the row.
    val li = lineitem(s, d).select(col("l_partkey"), col("l_returnflag"))
    val fused = li
      .select(
        explode(sequence(lit(0), lit(3))).as("row"),
        col("l_partkey").as("__k"),
        (col("l_returnflag") === "R").as("__r"),
      )
      .groupBy(col("row"), graft.ops.Cms.bucketOf(col("row"), col("__k"), 16384).as("bucket"))
      .agg(
        count(lit(1)).as("cnt_a"),
        sum(when(col("__r"), 1L).otherwise(0L)).as("cnt_b"),
      )
      .groupBy("row")
      .agg(sum(col("cnt_a") * col("cnt_b")).as("dot"))
      .agg(min(col("dot")).as("join_size_est"))
    val exact = li
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n_a"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_b"),
      )
      .agg(sum(col("n_a") * col("n_b")).as("join_size_exact"))
    fused
      .crossJoin(broadcast(exact))
      .select(
        col("join_size_est"),
        col("join_size_exact"),
        (col("join_size_est") >= col("join_size_exact")).as("no_underestimate"),
      )
  }

  /** Functional-dependency validation over five declared candidates
    * ([[graft.ops.Profile.fdCheck]]) — two true FDs of the star schema
    * (orderkey→custkey, nationkey→regionkey) and three expected
    * violations, each summarized as key count / violating keys / worst
    * fan-out / verdict. */
  private val fdCheckQ = {
    def edgeSql(name: String, table: String, lhs: String, rhs: String) =
      s"""SELECT '$name' AS fd, count(*) AS n_keys,
         |  CAST(count_if(nr > 1) AS BIGINT) AS n_violating,
         |  CAST(max(nr) AS BIGINT) AS max_fanout, max(nr) <= 1 AS holds
         |FROM (SELECT $lhs, count(DISTINCT $rhs)
         |        + max(CASE WHEN $rhs IS NULL THEN 1 ELSE 0 END) AS nr
         |      FROM $table GROUP BY 1)""".stripMargin
    Q(
      "misc_fd_check",
      Seq(
        edgeSql("orders: o_orderkey -> o_custkey", "orders", "o_orderkey", "o_custkey"),
        edgeSql("nation: n_nationkey -> n_regionkey", "nation", "n_nationkey", "n_regionkey"),
        edgeSql("lineitem: l_orderkey -> l_partkey", "lineitem", "l_orderkey", "l_partkey"),
        edgeSql("customer: c_nationkey -> c_mktsegment", "customer", "c_nationkey",
          "c_mktsegment"),
        edgeSql("part: p_brand -> p_size", "part", "p_brand", "p_size"),
      ).mkString("\nUNION ALL\n"),
    ) { (s, d) =>
      graft.ops.Profile.fdCheck(Seq(
        ("orders: o_orderkey -> o_custkey", orders(s, d), "o_orderkey", "o_custkey"),
        ("nation: n_nationkey -> n_regionkey", nation(s, d), "n_nationkey", "n_regionkey"),
        ("lineitem: l_orderkey -> l_partkey", lineitem(s, d), "l_orderkey", "l_partkey"),
        ("customer: c_nationkey -> c_mktsegment", customer(s, d), "c_nationkey", "c_mktsegment"),
        ("part: p_brand -> p_size", part(s, d), "p_brand", "p_size"),
      ))
    }
  }

  /** Weighted nearest-rank quartiles per group
    * ([[graft.ops.Stats.weightedQuantiles]]): extended price in cents
    * weighted by quantity, per return flag — "the price point below
    * which half the VOLUME trades". Integer-exact rank selection over
    * the bounded (flag, cents) histogram. */
  private val weightedQuantilesQ = Q(
    "misc_weighted_quantiles",
    """WITH h AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS s,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT l_returnflag, s, c,
      |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY l_returnflag) AS n
      |  FROM h)
      |SELECT l_returnflag,
      |  min(CASE WHEN cum >= greatest(1, ((n *  250000) + 999999) // 1000000) THEN s END) AS p25_cents,
      |  min(CASE WHEN cum >= greatest(1, ((n *  500000) + 999999) // 1000000) THEN s END) AS median_cents,
      |  min(CASE WHEN cum >= greatest(1, ((n *  750000) + 999999) // 1000000) THEN s END) AS p75_cents
      |FROM cum GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.weightedQuantiles(
      lineitem(s, d)
        .select(
          col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"),
        ),
      groupCols = Seq("l_returnflag"),
      valueCol = "cents",
      weightCol = "qty",
      ppms = Seq(250000L -> "p25_cents", 500000L -> "median_cents", 750000L -> "p75_cents"),
    )
  }

  /** Pearson χ² homogeneity over the (user parity cohort × event type)
    * contingency table ([[graft.ops.Stats.chi2Homogeneity]]) — the A/B
    * categorical-drift test, integer-ppm exact. */
  private val chi2Q = Q(
    "misc_chi2_homogeneity",
    """WITH cells AS (
      |  SELECT user_id % 2 AS row_v, event_type AS col_v, count(*) AS o
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT row_v, col_v, o,
      |    sum(o) OVER (PARTITION BY row_v) AS r,
      |    sum(o) OVER (PARTITION BY col_v) AS c,
      |    sum(o) OVER () AS n
      |  FROM cells),
      |sc AS (
      |  SELECT row_v, col_v, o,
      |    CAST((CAST(r AS HUGEINT) * c * 1000000) // n AS BIGINT) AS e_ppm,
      |    CAST(((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
      |          * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000)
      |      // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS contrib_ppm
      |  FROM m)
      |SELECT row_v, col_v, o, e_ppm, contrib_ppm,
      |  CAST(sum(contrib_ppm) OVER () AS BIGINT) AS chi2_ppm
      |FROM sc""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.chi2Homogeneity(
      events(s, d).select(expr("user_id % 2").as("cohort"), col("event_type")),
      "cohort",
      "event_type",
    )
  }

  /** Two-sample Kolmogorov–Smirnov over order spend
    * ([[graft.ops.Stats.ksStatistic]]): URGENT vs LOW priority order
    * totals in cents — "did this cohort's spend distribution shift?"
    * as exact cross-multiplied integers (D = max |cum₁·n₂ − cum₂·n₁|
    * with denominator n₁·n₂, plus the floored ppm quotient). The value
    * domain is continuous (prices), so the Spark side runs the TIERED
    * histogram cumulative — the oracle states the same cumulative with
    * one window, which is fine at oracle scale. */
  private val ksQ = Q(
    "misc_ks_orders",
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS s,
      |    (o_orderpriority = '1-URGENT') AS is1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |h AS (
      |  SELECT s, sum(CASE WHEN is1 THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN is1 THEN 0 ELSE 1 END) AS c2
      |  FROM v GROUP BY 1),
      |c AS (
      |  SELECT s,
      |    sum(c1) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum1,
      |    sum(c2) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum2
      |  FROM h),
      |t AS (SELECT max(cum1) AS n1, max(cum2) AS n2 FROM c)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)) AS BIGINT) AS d_num,
      |  CAST(max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)) * 1000000
      |    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_ppm
      |FROM c, t GROUP BY n1, n2""".stripMargin,
  ) { (s, d) =>
    val o = orders(s, d).filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    graft.ops.Stats.ksStatistic(
      o,
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      col("o_orderpriority") === "1-URGENT",
    )
  }

  /** Mann–Whitney U over the same two cohorts
    * ([[graft.ops.Stats.mannWhitneyU]]) — the nonparametric location
    * test beside [[ksQ]]'s shape test, tie-exact via the doubled
    * midrank (2·midrank = 2·cum_before + t + 1 stays integral). */
  private val mannWhitneyQ = Q(
    "misc_mannwhitney_orders",
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS s,
      |    (o_orderpriority = '1-URGENT') AS is1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |h AS (
      |  SELECT s, sum(CASE WHEN is1 THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN is1 THEN 0 ELSE 1 END) AS c2
      |  FROM v GROUP BY 1),
      |c AS (
      |  SELECT s, c1, c2,
      |    sum(c1) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum1,
      |    sum(c2) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum2
      |  FROM h),
      |a AS (
      |  SELECT max(cum1) AS n1, max(cum2) AS n2,
      |    sum(CAST(c1 AS HUGEINT) * (2 * (cum1 + cum2 - c1 - c2) + (c1 + c2) + 1)) AS rs
      |  FROM c)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(rs - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
      |  CAST(2 * CAST(n1 AS HUGEINT) * n2 - (rs - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT) AS u2_x2
      |FROM a""".stripMargin,
  ) { (s, d) =>
    val o = orders(s, d).filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    graft.ops.Stats.mannWhitneyU(
      o,
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      col("o_orderpriority") === "1-URGENT",
    )
  }

  /** Spearman rank correlation between order value and order width
    * (lineitem count) — [[graft.ops.Stats.spearmanStats]]. The price
    * domain is corpus-sized (continuous cents), so the rank stage runs
    * the tiered midrank, never a corpus window; the oracle states the
    * same midranks with one window, fine at oracle scale. The moments
    * are exact integers; every double is derived from < 2^53 exact
    * casts with the identical IEEE op sequence on both engines. */
  private val spearmanQ = Q(
    "misc_spearman_orders",
    """WITH r AS (
      |  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS x, c.y AS y
      |  FROM orders o JOIN (SELECT l_orderkey, count(*) AS y FROM lineitem GROUP BY 1) c
      |    ON c.l_orderkey = o.o_orderkey),
      |hx AS (SELECT x, count(*) AS c FROM r GROUP BY 1),
      |mx AS (SELECT x, 2 * sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c + 1 AS rx2 FROM hx),
      |hy AS (SELECT y, count(*) AS c FROM r GROUP BY 1),
      |my AS (SELECT y, 2 * sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c + 1 AS ry2 FROM hy),
      |j AS (SELECT rx2, ry2 FROM r JOIN mx USING (x) JOIN my USING (y)),
      |a AS (SELECT count(*) AS n,
      |    CAST(sum(CAST(rx2 AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(ry2 AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy
      |  FROM j)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |  CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_x,
      |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho
      |FROM a""".stripMargin,
  ) { (s, d) =>
    val widths = lineitem(s, d).groupBy(col("l_orderkey")).agg(count(lit(1)).as("y"))
    val joined = orders(s, d).join(widths, col("o_orderkey") === col("l_orderkey"))
    graft.ops.Stats.spearmanStats(
      joined,
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      col("y"),
    )
  }

  /** Cramér's V over the order status × priority contingency table
    * ([[graft.ops.Stats.cramersV]]) — the normalized association
    * strength on top of the χ² machinery, integer-exact. */
  private val cramersVQ = Q(
    "misc_cramers_v",
    """WITH cells AS (
      |  SELECT o_orderstatus AS row_v, o_orderpriority AS col_v, count(*) AS o
      |  FROM orders GROUP BY 1, 2),
      |m AS (
      |  SELECT row_v, col_v, o,
      |    sum(o) OVER (PARTITION BY row_v) AS r,
      |    sum(o) OVER (PARTITION BY col_v) AS c,
      |    sum(o) OVER () AS n
      |  FROM cells),
      |sc AS (
      |  SELECT row_v, col_v, o,
      |    CAST(((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
      |          * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000)
      |      // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS contrib_ppm
      |  FROM m)
      |SELECT CAST(sum(o) AS BIGINT) AS n,
      |  CAST(count(DISTINCT row_v) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT col_v) AS BIGINT) AS n_cols,
      |  CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm,
      |  CAST(sum(contrib_ppm) // (sum(o) * least(count(DISTINCT row_v) - 1,
      |                                           count(DISTINCT col_v) - 1)) AS BIGINT) AS v2_ppm
      |FROM sc""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.cramersV(orders(s, d), "o_orderstatus", "o_orderpriority")
  }

  /** RFM quintile segmentation over customers
    * ([[graft.ops.Stats.rfmScores]]): recency (latest order day),
    * frequency (order count), monetary (lifetime cents), each scored
    * 1..5 by equi-depth rank over its own value histogram — the
    * monetary domain is corpus-sized, so the Spark side ranks on the
    * tiered cumulative; the oracle states the same rank with windows,
    * fine at oracle scale. */
  private val rfmScoresQ = Q(
    "misc_rfm_scores",
    """WITH base AS (
      |  SELECT o_custkey AS entity,
      |    CAST(max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS BIGINT) AS r_raw,
      |    count(*) AS f_raw,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_raw
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT entity, r_raw, f_raw, m_raw,
      |    ((rank() OVER (ORDER BY r_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS r_score,
      |    ((rank() OVER (ORDER BY f_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS f_score,
      |    ((rank() OVER (ORDER BY m_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS m_score
      |  FROM base)
      |SELECT entity, r_raw, f_raw, m_raw,
      |  CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
      |FROM s""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.rfmScores(
      orders(s, d),
      col("o_custkey"),
      datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      k = 5,
    )
  }

  /** Split-conformal prediction interval
    * ([[graft.ops.Stats.conformalMeanInterval]]) at 90% over order
    * values: hash-split calibration, nearest-rank conformal quantile
    * of the absolute residuals, held-out coverage census — the whole
    * chain (split, mean, rank, coverage) replayed exactly. */
  private val conformalQ = Q(
    "misc_conformal",
    """WITH r AS (
      |  SELECT o_orderkey AS id, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |sp AS (SELECT id, v,
      |    (CAST(('0x' || substr(md5(coalesce(CAST(id AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |      * 1000000) // 16777216 < 500000 AS cal
      |  FROM r),
      |cm AS (SELECT count(*) AS n_cal,
      |    CAST(sum(CAST(v AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS mean_ppm
      |  FROM sp WHERE cal),
      |res AS (SELECT abs(v * 1000000 - cm.mean_ppm) AS s FROM sp, cm WHERE cal),
      |hist AS (SELECT s, count(*) AS c FROM res GROUP BY 1),
      |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum, sum(c) OVER () AS n FROM hist),
      |q AS (SELECT min(CASE WHEN cum >= ((n + 1) * 900000 + 999999) // 1000000 THEN s END) AS q_ppm
      |      FROM cum)
      |SELECT CAST(cm.n_cal AS BIGINT) AS n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  cm.mean_ppm,
      |  CAST(q.q_ppm AS BIGINT) AS q_ppm,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS coverage_ppm
      |FROM sp, cm, q WHERE NOT sp.cal
      |GROUP BY cm.n_cal, cm.mean_ppm, q.q_ppm""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.conformalMeanInterval(
      orders(s, d),
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      alphaPpm = 100000L,
      calPpm = 500000L,
    )
  }

  /** Per-segment split-conformal intervals
    * ([[graft.ops.Stats.conformalMeanIntervalBy]]) at 90%, segmented
    * by order priority: each cohort calibrates its own mean and
    * residual quantile and reports its own held-out coverage — the
    * per-cohort audit a serving dashboard actually reads (a global
    * interval is mis-calibrated for every heterogeneous cohort). The
    * oracle replays the whole per-key chain: hash split, per-key mean,
    * key-partitioned residual rank, per-key census. */
  private val conformalByQ = Q(
    "misc_conformal_by",
    """WITH r AS (
      |  SELECT o_orderpriority AS k, o_orderkey AS id,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders),
      |sp AS (SELECT k, id, v,
      |    (CAST(('0x' || substr(md5(coalesce(CAST(id AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |      * 1000000) // 16777216 < 500000 AS cal
      |  FROM r),
      |cm AS (SELECT k, count(*) AS n_cal,
      |    CAST(sum(CAST(v AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS mean_ppm
      |  FROM sp WHERE cal GROUP BY 1),
      |res AS (SELECT sp.k, abs(sp.v * 1000000 - cm.mean_ppm) AS s
      |        FROM sp JOIN cm ON cm.k = sp.k WHERE sp.cal),
      |hist AS (SELECT k, s, count(*) AS c FROM res GROUP BY 1, 2),
      |cum AS (SELECT k, s, sum(c) OVER (PARTITION BY k ORDER BY s) AS cum,
      |          sum(c) OVER (PARTITION BY k) AS n
      |        FROM hist),
      |q AS (SELECT k,
      |        min(CASE WHEN cum >= ((n + 1) * 900000 + 999999) // 1000000 THEN s END) AS q_ppm
      |      FROM cum GROUP BY 1)
      |SELECT sp.k AS key, CAST(cm.n_cal AS BIGINT) AS n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  cm.mean_ppm,
      |  CAST(q.q_ppm AS BIGINT) AS q_ppm,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST(sum(CASE WHEN q.q_ppm IS NULL OR abs(sp.v * 1000000 - cm.mean_ppm) <= q.q_ppm
      |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS coverage_ppm
      |FROM sp JOIN cm ON cm.k = sp.k JOIN q ON q.k = sp.k
      |WHERE NOT sp.cal
      |GROUP BY sp.k, cm.n_cal, cm.mean_ppm, q.q_ppm""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.conformalMeanIntervalBy(
      orders(s, d),
      col("o_orderpriority"),
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      alphaPpm = 100000L,
      calPpm = 500000L,
    )
  }

  /** N-dimensional quantile scoring
    * ([[graft.ops.Stats.quantileScores]]) — the [[graft.ops.Stats.rfmScores]]
    * generalization at 4 dimensions: recency, frequency, monetary,
    * plus mean order value (an intensity axis RFM's monetary total
    * conflates with frequency). Each axis scored 1..5 by equi-depth
    * rank over its own histogram; 4-digit cell. */
  private val quantileScoresQ = Q(
    "misc_quantile_scores",
    """WITH base AS (
      |  SELECT o_custkey AS entity,
      |    CAST(max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS BIGINT) AS r_raw,
      |    count(*) AS f_raw,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_raw,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*) AS BIGINT) AS a_raw
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT entity, r_raw, f_raw, m_raw, a_raw,
      |    ((rank() OVER (ORDER BY r_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS r_score,
      |    ((rank() OVER (ORDER BY f_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS f_score,
      |    ((rank() OVER (ORDER BY m_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS m_score,
      |    ((rank() OVER (ORDER BY a_raw) - 1) * 5) // (count(*) OVER ()) + 1 AS a_score
      |  FROM base)
      |SELECT entity, r_raw, f_raw, m_raw, a_raw,
      |  CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CAST(a_score AS BIGINT) AS a_score,
      |  CAST(r_score * 1000 + f_score * 100 + m_score * 10 + a_score AS BIGINT) AS cell
      |FROM s""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.quantileScores(
      orders(s, d),
      col("o_custkey"),
      Seq(
        "r" -> max(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")),
        "f" -> count(lit(1)),
        // DECIMAL accumulation (the rfmScores discipline): a BIGINT sum
        // would be ANSI-overflowable at untested SFs
        "m" -> expr(
          "CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS BIGINT)"),
        "a" -> expr(
          "CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) div count(1) AS BIGINT)"),
      ),
      k = 5,
    )
  }

  /** Isotonic (PAVA) calibration ([[graft.ops.Stats.isotonicFit]]):
    * P(urgent priority) as a monotone non-decreasing function of the
    * $200-bucketed order value — pools merge by exact HUGEINT
    * cross-multiplication while the left rate ≥ the right rate (ties
    * merge), so pool boundaries are deterministic. The oracle replays
    * the IDENTICAL left-to-right immediate-merge sweep as an
    * operation-sequential recursive CTE (each step either merges the
    * top two stack pools or shifts the next bucket; ≤ 2·buckets
    * steps), exact on pools, counts, and fitted ppm rates. */
  private val isotonicQ = Q(
    "misc_isotonic",
    """WITH RECURSIVE
      |h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 20000 AS b,
      |        CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |        count(*) AS n
      |      FROM orders GROUP BY 1),
      |init AS (SELECT list(struct_pack(lo := b, hi := b, pos := pos, n := n) ORDER BY b) AS rem
      |         FROM h),
      |rec AS (
      |  SELECT rem,
      |    CAST([] AS STRUCT(lo BIGINT, hi BIGINT, pos BIGINT, n BIGINT)[]) AS stk,
      |    0 AS step
      |  FROM init
      |  UNION ALL
      |  SELECT
      |    CASE WHEN viol THEN rem ELSE rem[2:] END,
      |    CASE WHEN viol
      |      THEN list_append(stk[:-3],
      |             struct_pack(lo := stk[-2].lo, hi := stk[-1].hi,
      |                         pos := stk[-2].pos + stk[-1].pos, n := stk[-2].n + stk[-1].n))
      |      ELSE list_append(stk, rem[1]) END,
      |    step + 1
      |  FROM (
      |    SELECT rem, stk, step,
      |      len(stk) >= 2 AND CAST(stk[-2].pos AS HUGEINT) * stk[-1].n
      |                          >= CAST(stk[-1].pos AS HUGEINT) * stk[-2].n AS viol
      |    FROM rec)
      |  WHERE viol OR len(rem) > 0),
      |fin AS (
      |  SELECT stk FROM rec
      |  WHERE len(rem) = 0
      |    AND NOT (len(stk) >= 2 AND CAST(stk[-2].pos AS HUGEINT) * stk[-1].n
      |                                 >= CAST(stk[-1].pos AS HUGEINT) * stk[-2].n))
      |SELECT r.lo AS bucket_lo, r.hi AS bucket_hi, r.pos, r.n,
      |  CAST(r.pos * 1000000 // r.n AS BIGINT) AS rate_ppm
      |FROM (SELECT unnest(stk) AS r FROM fin)""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.isotonicFit(
      orders(s, d),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 20000"),
      col("o_orderpriority") === "1-URGENT",
    )
  }

  /** Per-segment isotonic calibration
    * ([[graft.ops.Stats.isotonicFitBy]]): one monotone urgent-rate
    * curve per market segment over $500 order-value buckets — the
    * per-cohort calibration a serving dashboard deploys where the
    * pooled [[isotonicQ]] curve would be wrong for every cohort.
    * Oracle: the same operation-sequential merge-or-shift recursion,
    * keyed — five cohorts recurse independently in one CTE. */
  private val isotonicByQ = Q(
    "misc_isotonic_by",
    """WITH RECURSIVE
      |h AS (SELECT c.c_mktsegment AS k,
      |        CAST(round(o.o_totalprice * 100) AS BIGINT) // 50000 AS b,
      |        CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |        count(*) AS n
      |      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |      GROUP BY 1, 2),
      |init AS (SELECT k, list(struct_pack(lo := b, hi := b, pos := pos, n := n) ORDER BY b) AS rem
      |         FROM h GROUP BY 1),
      |rec AS (
      |  SELECT k, rem,
      |    CAST([] AS STRUCT(lo BIGINT, hi BIGINT, pos BIGINT, n BIGINT)[]) AS stk,
      |    0 AS step
      |  FROM init
      |  UNION ALL
      |  SELECT k,
      |    CASE WHEN viol THEN rem ELSE rem[2:] END,
      |    CASE WHEN viol
      |      THEN list_append(stk[:-3],
      |             struct_pack(lo := stk[-2].lo, hi := stk[-1].hi,
      |                         pos := stk[-2].pos + stk[-1].pos, n := stk[-2].n + stk[-1].n))
      |      ELSE list_append(stk, rem[1]) END,
      |    step + 1
      |  FROM (
      |    SELECT k, rem, stk, step,
      |      len(stk) >= 2 AND CAST(stk[-2].pos AS HUGEINT) * stk[-1].n
      |                          >= CAST(stk[-1].pos AS HUGEINT) * stk[-2].n AS viol
      |    FROM rec)
      |  WHERE viol OR len(rem) > 0),
      |fin AS (
      |  SELECT k, stk FROM rec
      |  WHERE len(rem) = 0
      |    AND NOT (len(stk) >= 2 AND CAST(stk[-2].pos AS HUGEINT) * stk[-1].n
      |                                 >= CAST(stk[-1].pos AS HUGEINT) * stk[-2].n))
      |SELECT k AS key, r.lo AS bucket_lo, r.hi AS bucket_hi, r.pos, r.n,
      |  CAST(r.pos * 1000000 // r.n AS BIGINT) AS rate_ppm
      |FROM (SELECT k, unnest(stk) AS r FROM fin)""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.isotonicFitBy(
      orders(s, d).join(
        broadcast(customer(s, d).select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"),
      ),
      col("c_mktsegment"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 50000"),
      col("o_orderpriority") === "1-URGENT",
    )
  }

  /** Decision-stump Gini feature screening
    * ([[graft.ops.Stats.stumpGini]]): which categorical lineitem
    * attribute best separates high-value line items on its own (the
    * quantity bucket should; returnflag should not)? One
    * aggregation pass for all four features; exact integers with a
    * defined flooring order the oracle replays. */
  private val stumpGiniQ = Q(
    "misc_stump_gini",
    """WITH r AS (
      |  SELECT (l_extendedprice > 30000) AS y,
      |    CAST(CAST(l_quantity AS BIGINT) // 10 AS VARCHAR) AS qty_bucket,
      |    CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR) AS tax_pct,
      |    l_returnflag, l_linestatus
      |  FROM lineitem),
      |u AS (
      |  SELECT 'qty_bucket' AS feature, qty_bucket AS v, y FROM r
      |  UNION ALL SELECT 'tax_pct', tax_pct, y FROM r
      |  UNION ALL SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR), y FROM r
      |  UNION ALL SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR), y FROM r),
      |cells AS (
      |  SELECT feature, v, count(*) AS n,
      |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM u GROUP BY 1, 2),
      |terms AS (
      |  SELECT feature, n, pos,
      |    CAST((CAST(n AS HUGEINT) * n - CAST(pos AS HUGEINT) * pos
      |          - CAST(n - pos AS HUGEINT) * (n - pos)) * 1000000 // n AS BIGINT) AS t
      |  FROM cells)
      |SELECT feature, count(*) AS n_values, CAST(sum(n) AS BIGINT) AS n,
      |  CAST(sum(pos) AS BIGINT) AS pos,
      |  CAST(sum(t) // sum(n) AS BIGINT) AS gini_split_ppm
      |FROM terms GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.stumpGini(
      lineitem(s, d),
      col("l_extendedprice") > 30000,
      Seq(
        "qty_bucket"   -> expr("CAST(CAST(l_quantity AS BIGINT) div 10 AS STRING)"),
        "tax_pct"      -> expr("CAST(CAST(round(l_tax * 100) AS BIGINT) AS STRING)"),
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus" -> col("l_linestatus"),
      ),
    )
  }

  /** Bloom membership filter ([[graft.ops.Bloom]]): built over the
    * custkeys that have orders, probed with EVERY customer. md5 bit
    * positions make the filter engine-replayable, so the oracle checks
    * exact flag counts; `no_false_negative` pins the filter's
    * one-sided guarantee, `false_positives` reports the (deterministic
    * here) other side against exact membership. */
  private val bloomMembership = Q(
    "misc_bloom_membership",
    """WITH mk AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |hs AS (SELECT unnest(generate_series(0, 2)) AS i),
      |bloom AS (
      |  SELECT DISTINCT
      |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || coalesce(CAST(k AS VARCHAR), '')), 1, 6)) AS BIGINT) % 131072 AS bit
      |  FROM mk, hs),
      |probes AS (SELECT DISTINCT c_custkey AS k FROM customer),
      |pb AS (
      |  SELECT p.k, count(*) AS kk,
      |    sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS hits
      |  FROM probes p CROSS JOIN hs
      |  LEFT JOIN bloom b ON b.bit =
      |    CAST(('0x' || substr(md5(CAST(hs.i AS VARCHAR) || ':' || coalesce(CAST(p.k AS VARCHAR), '')), 1, 6)) AS BIGINT) % 131072
      |  GROUP BY p.k),
      |mem AS (
      |  SELECT pb.k, (pb.hits = pb.kk) AS might_contain, (mk.k IS NOT NULL) AS is_member
      |  FROM pb LEFT JOIN mk ON mk.k = pb.k)
      |SELECT count(*) AS n_probes,
      |  CAST(count_if(is_member) AS BIGINT) AS n_members,
      |  CAST(count_if(might_contain) AS BIGINT) AS n_flagged,
      |  CAST(count_if(might_contain AND NOT is_member) AS BIGINT) AS false_positives,
      |  count_if(is_member AND NOT might_contain) = 0 AS no_false_negative
      |FROM mem""".stripMargin,
  ) { (s, d) =>
    import graft.ops.Bloom
    val members = orders(s, d).select(col("o_custkey").as("k")).distinct()
    val bloom   = Bloom.build(members, "k", bits = 131072, k = 3)
    val flags   = Bloom.mightContain(bloom, customer(s, d).select(col("c_custkey").as("k")),
      "k", bits = 131072, k = 3)
    flags
      .join(members.withColumn("__m", lit(1)), Seq("k"), "left")
      .select(col("might_contain"), col("__m").isNotNull.as("is_member"))
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("is_member"), 1L).otherwise(0L)).cast("long").as("n_members"),
        sum(when(col("might_contain"), 1L).otherwise(0L)).cast("long").as("n_flagged"),
        sum(when(col("might_contain") && !col("is_member"), 1L).otherwise(0L)).cast("long")
          .as("false_positives"),
        (sum(when(col("is_member") && !col("might_contain"), 1L).otherwise(0L)) === 0L)
          .as("no_false_negative"),
      )
  }

  /** Fixed-size deterministic per-stratum sample (reservoir shape,
    * [[graft.ops.Sampling.reservoirPerStratum]]): exactly
    * min(k, |stratum|) docs per source (k below the stratum size, so the
    * quota genuinely cuts), selected by smallest content
    * hash — the per-source quota form of corpus mixing. */
  private val sampleReservoir = Q(
    "misc_sample_reservoir",
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling
      .reservoirPerStratum(graft.Tables.documents(s, d), "doc_id", "source", k = 10)
      .select("doc_id", "source")
  }

  /** Token-budget mixture sampling
    * ([[graft.ops.Sampling.tokenBudgetPerStratum]]): per-source char
    * budgets (a mixture recipe of weights × a global token target
    * compiled to absolute quotas), filled in content-hash order by an
    * integer-exact cumulative sum — src1 gets a smaller share, src2 is
    * excluded, everything else fills to the default. Budgets sit well
    * below the per-source char mass, so every quota genuinely cuts. */
  private val sampleBudgetMix = Q(
    "misc_sample_budget_mix",
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    SUM(n_chars) OVER (PARTITION BY source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |                       ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM documents)
      |WHERE cum <= (CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 1200
      |                          WHEN 'src2' THEN 0 ELSE 2000 END)""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling
      .tokenBudgetPerStratum(
        graft.Tables.documents(s, d),
        keyCol = "doc_id",
        strataCol = "source",
        costCol = "n_chars",
        budgets = Map("src0" -> 3000L, "src1" -> 1200L, "src2" -> 0L),
        defaultBudget = 2000L,
      )
      .select("doc_id", "source")
  }

  /** Deterministic shard assignment ([[graft.ops.Sampling.shardAssign]])
    * summarized per shard: the balance evidence (row counts and char
    * mass per shard) a shard writer would log. Map-only assignment +
    * one aggregate; the oracle replays the identical hash-mod. */
  private val shardStats = Q(
    "misc_shard_stats",
    """SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
      |FROM (SELECT CAST(('0x' || substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 6)) AS BIGINT) % 8
      |        AS shard, n_chars
      |      FROM documents)
      |GROUP BY shard""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling
      .shardAssign(graft.Tables.documents(s, d), "doc_id", nShards = 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_sum"))
  }

  /** Z-order (Morton) clustering key ([[graft.ops.Layout.zorderKey]]):
    * the bit-interleave that gives multi-dimensional file pruning at
    * 100 TB (Delta/Iceberg OPTIMIZE ZORDER). Pure integer shifts, so
    * the oracle replays the exact key; the layout CONSEQUENCE
    * (per-file min/max envelopes tight in every dimension) is pinned
    * in OpsSpec against a single-column sort. */
  private val zorderKeyQ = Q(
    "misc_zorder_key",
    s"""SELECT p_partkey,
       |  ${graft.ops.Layout.zorderSql(Seq("p_size", "p_partkey % 1024"), 10)} AS zkey
       |FROM part""".stripMargin,
  ) { (s, d) =>
    part(s, d).select(
      col("p_partkey"),
      graft.ops.Layout
        .zorderKey(Seq(col("p_size"), col("p_partkey") % 1024), 10)
        .as("zkey"),
    )
  }

  /** Hilbert curve key over the same rank space as [[zorderKeyQ]]
    * ([[graft.ops.Layout.hilbertKey]]) — the locality-preserving
    * layout key (consecutive keys are Manhattan-adjacent cells, no
    * Z-jumps). The oracle replays the packed-state fold verbatim via
    * [[graft.ops.Layout.hilbertSql]]. */
  private val hilbertKeyQ = Q(
    "misc_hilbert_key",
    s"""SELECT p_partkey,
       |  ${graft.ops.Layout.hilbertSql("p_size", "p_partkey % 1024", 10)} AS hkey
       |FROM part""".stripMargin,
  ) { (s, d) =>
    part(s, d).select(
      col("p_partkey"),
      graft.ops.Layout
        .hilbertKey(col("p_size"), col("p_partkey") % 1024, 10)
        .as("hkey"),
    )
  }

  /** Poisson-bootstrap 95% CI for the mean order value
    * ([[graft.ops.Stats.bootstrapMeanCi]]): deterministic md5-seeded
    * Poisson(1) resamples, each one combinable aggregation;
    * nearest-rank quantiles over the resample means. The method that
    * replaces rank-indexed resampling at corpus scale.
    *
    * DEMO-SIZED at B = 25 (r15 verdict #3): this md5 twin exists for
    * the cross-engine oracle replay — DuckDB has md5 but not xxhash64
    * — while the PRODUCTION path is [[bootstrapCiXxQ]] at B = 100,
    * ~17× cheaper per digest. B = 25 keeps the oracle exact over the
    * full resample machinery (amplify → window-draw → per-resample
    * partial means → nearest-rank CI) without letting the demo twin be
    * the suite's heaviest row; at B = 25 the nearest-rank 2.5%/97.5%
    * quantiles are the extreme resample means — statistically coarse,
    * which is exactly why production runs the xx twin's B. */
  private val bootstrapCiQ = Q(
    "misc_bootstrap_ci",
    s"""WITH r AS (
       |  SELECT o_orderkey AS id, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |d AS (
       |  SELECT id, v, g, md5(CAST(id AS VARCHAR) || ':' || g) AS dig
       |  FROM r CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS g) gs),
       |dw AS (
       |  SELECT v, g * 5 + j AS b, substr(dig, j * 6 + 1, 6) AS win
       |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) js),
       |w AS (SELECT b, v, ${graft.ops.Stats.poissonWeightSql("win")} AS w FROM dw),
       |m AS (
       |  SELECT b,
       |    CAST(sum(CAST(w AS HUGEINT) * v) * 1000000 // nullif(sum(w), 0) AS BIGINT) AS s
       |  FROM w GROUP BY b),
       |mm AS (SELECT s FROM m WHERE s IS NOT NULL),
       |c AS (
       |  SELECT s, count(*) AS cnt FROM mm GROUP BY s),
       |cc AS (
       |  SELECT s,
       |    sum(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(cnt) OVER () AS bn
       |  FROM c),
       |ci AS (
       |  SELECT CAST(max(bn) AS BIGINT) AS b_count,
       |    min(CASE WHEN cum >= greatest(1, (bn * 25000 + 999999) // 1000000) THEN s END) AS ci_lo_ppm,
       |    min(CASE WHEN cum >= greatest(1, (bn * 975000 + 999999) // 1000000) THEN s END) AS ci_hi_ppm
       |  FROM cc),
       |pt AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(v AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS mean_ppm
       |  FROM r)
       |SELECT CAST(n AS BIGINT) AS n, b_count, mean_ppm,
       |  CAST(ci_lo_ppm AS BIGINT) AS ci_lo_ppm, CAST(ci_hi_ppm AS BIGINT) AS ci_hi_ppm
       |FROM pt, ci""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.bootstrapMeanCi(
      orders(s, d),
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      b = 25,
      ppmLo = 25000L,
      ppmHi = 975000L,
    )
  }

  /** xxhash64 production twin of `misc_bootstrap_ci`
    * ([[graft.ops.Stats.bootstrapMeanCiXx]]): same Poisson bootstrap,
    * the draw from xxhash64's 24-bit windows (~17× cheaper per digest
    * than md5). DuckDB has no xxhash64, so no cross-engine replay —
    * rows-only here, the resample machinery exact-oracled by the md5
    * twin, and the OpsSpec pins determinism + the n/mean/b_count
    * identity against the md5 twin's point fields. */
  private val bootstrapCiXxQ = Q.noOracle("misc_bootstrap_ci_xx") { (s, d) =>
    graft.ops.Stats.bootstrapMeanCiXx(
      orders(s, d),
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      b = 100,
      ppmLo = 25000L,
      ppmHi = 975000L,
    )
  }

  /** WEIGHTED PageRank: the same integer iteration with rank
    * distributed proportionally to edge weight — here the lineitem
    * count between a supplier and customer, so heavy trade relations
    * carry more authority. Contribution is ⌊r·w / W(u)⌋ (W = total
    * out-weight); 2 rounds unrolled in the oracle. */
  private val pagerankWeighted = Q(
    "misc_pagerank_weighted",
    """WITH pairs AS (
      |  SELECT l_suppkey AS sk, o_custkey AS ck, count(*) AS w
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT 2 * sk AS src, 2 * ck + 1 AS dst, w FROM pairs
      |  UNION ALL
      |  SELECT 2 * ck + 1, 2 * sk, w FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS d FROM edges GROUP BY 1),
      |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |it1 AS (
      |  SELECT n.id, CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum((r.r * e.w) // d.d) AS m
      |    FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id),
      |it2 AS (
      |  SELECT n.id, CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum((r.r * e.w) // d.d) AS m
      |    FROM edges e JOIN it1 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id)
      |SELECT id, r AS rank_ppm FROM it2""".stripMargin,
  ) { (s, d) =>
    val pairs = sharedTradeRows(s, d)
      .groupBy(col("sk"), col("ck"))
      .agg(count(lit(1)).as("w"))
    val sNode = (col("sk") * 2).cast("long")
    val cNode = (col("ck") * 2 + 1).cast("long")
    val edges = pairs
      .select(
        explode(
          array(
            struct(sNode.as("src"), cNode.as("dst"), col("w")),
            struct(cNode.as("src"), sNode.as("dst"), col("w")),
          )
        ).as("e")
      )
      .select(col("e.src"), col("e.dst"), col("e.w"))
    graft.ops.PageRank
      .pageRank(edges, iters = 2, noDangling = true, weightCol = Some("w"))
  }

  /** Approximate percentile (the KLL/GK-family mergeable quantile
    * sketch behind `percentile_approx` — the scalable form of
    * quantiles at 100 TB, where an exact percentile is a full sort),
    * checked as an error-bound DIFFERENTIAL like the HLL rows: the
    * approx p50/p90 must land inside the exact [p−0.01, p+0.01]
    * quantile envelope (generous vs the 1/accuracy = 1e-4 rank-error
    * guarantee at accuracy 10000). The envelope and the booleans are
    * computed Spark-side; the oracle re-derives the exact percentiles
    * and literal TRUE — a drifting sketch flips a boolean and fails
    * the hash check. The estimates themselves stay out of the
    * compared columns (engine-specific). */
  private val approxPercentile = Q(
    "misc_approx_percentile",
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS exact_p50,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS exact_p90,
      |  COUNT(*) AS n, TRUE AS p50_within_bound, TRUE AS p90_within_bound
      |FROM lineitem GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("exact_p50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)").as("exact_p90"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.49)").as("__lo50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.51)").as("__hi50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.89)").as("__lo90"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.91)").as("__hi90"),
        expr("percentile_approx(CAST(l_extendedprice AS DOUBLE), 0.5, 10000)").as("__a50"),
        expr("percentile_approx(CAST(l_extendedprice AS DOUBLE), 0.9, 10000)").as("__a90"),
        count(lit(1)).as("n"),
      )
      .select(
        col("l_returnflag"),
        col("exact_p50"),
        col("exact_p90"),
        col("n"),
        col("__a50").between(col("__lo50"), col("__hi50")).as("p50_within_bound"),
        col("__a90").between(col("__lo90"), col("__hi90")).as("p90_within_bound"),
      )
  }

  /** KLL mergeable quantile sketch ([[graft.functions.KllAgg]] — the
    * repo's own bounded-state quantile aggregate, completing the
    * sketch family next to CMS/KMV/Bloom/HLL): per-group sketches of
    * l_extendedprice at k = 200, quantiles evaluated by one bounded
    * higher-order fold over the finished (value, weight) array.
    * Checked as the `misc_approx_percentile` error-bound differential
    * — the p50/p90 estimates must land inside the exact
    * [p−0.05, p+0.05] quantile envelope (generous vs the sketch's
    * ≈1/k normalized rank error at k = 200, so merge-order movement
    * can never flip the boolean) — PLUS one exact invariant the
    * approx gate cannot offer: the sketch's total retained weight
    * must equal the group count (KLL compaction preserves total
    * weight exactly). Oracle re-derives the exact percentiles and
    * literal TRUE. */
  private val kllQuantilesQ = Q(
    "misc_kll_quantiles",
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS exact_p50,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS exact_p90,
      |  COUNT(*) AS n, TRUE AS weight_matches_n,
      |  TRUE AS p50_within_bound, TRUE AS p90_within_bound
      |FROM lineitem GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("exact_p50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)").as("exact_p90"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.45)").as("__lo50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.55)").as("__hi50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.85)").as("__lo90"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.95)").as("__hi90"),
        graft.functions.KllAgg.kll(200)(col("l_extendedprice").cast("double")).as("__sk"),
        count(lit(1)).as("n"),
      )
      .select(
        col("l_returnflag"),
        col("exact_p50"),
        col("exact_p90"),
        col("n"),
        (expr("aggregate(__sk, CAST(0 AS BIGINT), (a, x) -> a + x.w)") === col("n"))
          .as("weight_matches_n"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.5))
          .between(col("__lo50"), col("__hi50")).as("p50_within_bound"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.9))
          .between(col("__lo90"), col("__hi90")).as("p90_within_bound"),
      )
  }

  /** WEIGHTED KLL ([[graft.functions.KllAgg.kll_weighted]] — binary-
    * decomposition inserts, ≤64 appends per row regardless of weight):
    * quantiles of l_extendedprice under l_quantity weighting per
    * return flag — "the price quantile weighted by units moved", the
    * weighted form token-budget planning reads. Envelope booleans
    * against the EXACT weighted quantiles from the bounded-domain
    * histogram ([[graft.ops.Stats.weightedQuantiles]], the
    * `misc_weighted_quantiles` machinery) at ±5% weighted rank, plus
    * the exact invariant that retained weight ≡ Σ l_quantity. */
  private val kllWeightedQ = Q(
    "misc_kll_weighted",
    """WITH h AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS s,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT l_returnflag, s, c,
      |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY l_returnflag) AS n
      |  FROM h)
      |SELECT l_returnflag,
      |  CAST(max(n) AS BIGINT) AS total_w,
      |  min(CASE WHEN cum >= greatest(1, ((n * 500000) + 999999) // 1000000) THEN s END) AS exact_wp50_cents,
      |  min(CASE WHEN cum >= greatest(1, ((n * 900000) + 999999) // 1000000) THEN s END) AS exact_wp90_cents,
      |  TRUE AS weight_matches_total, TRUE AS p50_within_bound, TRUE AS p90_within_bound
      |FROM cum GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val rows = lineitem(s, d)
      .filter(col("l_extendedprice").isNotNull)
      .select(
        col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
      )
    val sk = rows
      .groupBy("l_returnflag")
      .agg(
        graft.functions.KllAgg
          .kll_weighted(200)(col("cents").cast("double"), col("qty")).as("__sk"),
        sum(col("qty")).as("total_w"),
      )
    val exact = graft.ops.Stats.weightedQuantiles(
      rows,
      groupCols = Seq("l_returnflag"),
      valueCol = "cents",
      weightCol = "qty",
      ppms = Seq(500000L -> "exact_wp50_cents", 900000L -> "exact_wp90_cents",
        450000L -> "__lo50", 550000L -> "__hi50", 850000L -> "__lo90", 950000L -> "__hi90"),
    )
    sk.join(exact, Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        col("total_w"),
        col("exact_wp50_cents"),
        col("exact_wp90_cents"),
        (expr("aggregate(__sk, CAST(0 AS BIGINT), (a, x) -> a + x.w)") === col("total_w"))
          .as("weight_matches_total"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.5))
          .between(col("__lo50"), col("__hi50")).as("p50_within_bound"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.9))
          .between(col("__lo90"), col("__hi90")).as("p90_within_bound"),
      )
  }

  /** SKETCH QUANTILE BINNING ([[graft.ops.Layout.sketchQuantileBins]]):
    * assign every order to one of 8 equal-mass value buckets via the
    * broadcast split array — the GBDT-style feature transform, map-
    * only per row. Balance differential: every bucket's exact share
    * must land within ±3% of 1/8 (the split-point bound transfers
    * directly), the bucket ids are exactly 0..7, and no row is lost
    * (Σ bucket counts ≡ table count, exact). */
  private val kllBinningQ = Q(
    "misc_kll_binning",
    """SELECT CAST(b AS BIGINT) AS bucket,
      |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_total,
      |  TRUE AS within_balance
      |FROM (SELECT unnest(generate_series(0, 7)) AS b)""".stripMargin,
  ) { (s, d) =>
    val rows = orders(s, d)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("__v"))
    graft.ops.Layout
      .sketchQuantileBins(rows, col("__v"), n = 8)
      .groupBy("bucket")
      .agg(count(lit(1)).as("__n_in"))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("n_total"))))
      .select(
        col("bucket"),
        col("n_total"),
        expr(
          """abs(CAST(CAST(__n_in AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)
            |    - 125000) <= 30000""".stripMargin
        ).as("within_balance"),
      )
  }

  /** WEIGHTED SPLIT POINTS
    * ([[graft.ops.Layout.weightedRangeSplitPoints]]): boundaries of 8
    * equal-TOKEN-mass shards over the documents table keyed by
    * document length and weighted by the same character count — the
    * packing-shard planner's cut (equal character budget per shard).
    * Balance differential: the exact character mass
    * strictly below each split must land within ±4% of i/8 (weighted
    * rank error composes the sketch bound with weight skew, hence the
    * slightly wider band than the unweighted gate). */
  private val kllWeightedSplitsQ = Q(
    "misc_kll_weighted_splits",
    """SELECT CAST(s AS BIGINT) AS split_idx,
      |  CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) AS total_chars,
      |  TRUE AS within_balance
      |FROM (SELECT unnest(generate_series(1, 7)) AS s)""".stripMargin,
  ) { (s, d) =>
    val rows = graft.Tables.documents(s, d)
      .select(col("n_chars").cast("long").as("__len"), col("n_chars").cast("long").as("__w"))
    val splits = graft.ops.Layout
      .weightedRangeSplitPoints(rows, col("__len"), col("__w"), n = 8)
    rows
      .crossJoin(broadcast(splits))
      .groupBy("split_idx")
      .agg(
        sum(when(col("__len") < col("split_value"), col("__w")).otherwise(0L)).as("__w_below"),
        sum(col("__w")).as("total_chars"),
      )
      .select(
        col("split_idx"),
        col("total_chars"),
        expr(
          """abs(CAST(CAST(__w_below AS DECIMAL(38,0)) * 1000000 div total_chars AS BIGINT)
            |    - (split_idx * 1000000) div 8) <= 40000""".stripMargin
        ).as("within_balance"),
      )
  }

  /** WEIGHTED BINNING
    * ([[graft.ops.Layout.weightedSketchQuantileBins]]): assign every
    * document to one of 8 near-equal-character-mass shards — the
    * packing-shard ASSIGNMENT step after the planner's cut. Balance
    * differential: each bucket's exact character share within ±4.5% of
    * 1/8 (boundary-value ties hold a whole length-class together,
    * widening the band vs the row-count gate), exact id set, no mass
    * lost (Σ per-bucket mass ≡ corpus mass by construction of the
    * aggregation). */
  private val kllWeightedBinningQ = Q(
    "misc_kll_weighted_binning",
    """SELECT CAST(b AS BIGINT) AS bucket,
      |  CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) AS total_chars,
      |  TRUE AS within_balance
      |FROM (SELECT unnest(generate_series(0, 7)) AS b)""".stripMargin,
  ) { (s, d) =>
    val rows = graft.Tables.documents(s, d)
      .select(col("n_chars").cast("long").as("__len"), col("n_chars").cast("long").as("__w"))
    graft.ops.Layout
      .weightedSketchQuantileBins(rows, col("__len"), col("__w"), n = 8)
      .groupBy("bucket")
      .agg(sum(col("__w")).as("__w_in"))
      .crossJoin(broadcast(rows.agg(sum(col("__w")).as("total_chars"))))
      .select(
        col("bucket"),
        col("total_chars"),
        expr(
          """abs(CAST(CAST(__w_in AS DECIMAL(38,0)) * 1000000 div total_chars AS BIGINT)
            |    - 125000) <= 45000""".stripMargin
        ).as("within_balance"),
      )
  }

  /** KLL SKETCH-STORE ROUND TRIP ([[graft.functions.KllAgg.kll_merge]]):
    * sketch four disjoint hash shards of orders independently (the
    * per-day/per-shard sketches a store persists as plain (v, w)
    * parquet), then REBUILD one combined sketch by re-aggregating the
    * exploded items — each re-enters the ladder at level log₂(w), the
    * KLL merge decomposition. Checked with the `misc_kll_quantiles`
    * envelope on the MERGED sketch plus the exact invariant that
    * no row is lost or double-counted across the shard split + merge
    * (total weight ≡ full table count). */
  private val kllMergeQ = Q(
    "misc_kll_merge",
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT)::DOUBLE, 0.5) AS exact_p50,
      |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT)::DOUBLE, 0.9) AS exact_p90,
      |  TRUE AS weight_matches_n, TRUE AS p50_within_bound, TRUE AS p90_within_bound
      |FROM orders""".stripMargin,
  ) { (s, d) =>
    val rows = orders(s, d)
      .select(
        expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE)").as("__v"),
        (col("o_orderkey") % 4).as("__shard"),
      )
    val shardItems = rows
      .groupBy("__shard")
      .agg(graft.functions.KllAgg.kll(200)(col("__v")).as("__sk"))
      .select(explode(col("__sk")).as("__it"))
    val merged = shardItems
      .agg(graft.functions.KllAgg.kll_merge(200)(col("__it.v"), col("__it.w")).as("__sk"))
    val exact = rows.agg(
      count(lit(1)).as("n"),
      expr("percentile(__v, 0.5)").as("exact_p50"),
      expr("percentile(__v, 0.9)").as("exact_p90"),
      expr("percentile(__v, 0.45)").as("__lo50"),
      expr("percentile(__v, 0.55)").as("__hi50"),
      expr("percentile(__v, 0.85)").as("__lo90"),
      expr("percentile(__v, 0.95)").as("__hi90"),
    )
    merged
      .crossJoin(broadcast(exact)) // both sides single-row
      .select(
        col("n"),
        col("exact_p50"),
        col("exact_p90"),
        (expr("aggregate(__sk, CAST(0 AS BIGINT), (a, x) -> a + x.w)") === col("n"))
          .as("weight_matches_n"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.5))
          .between(col("__lo50"), col("__hi50")).as("p50_within_bound"),
        expr(graft.functions.KllAgg.estimateSql("__sk", 0.9))
          .between(col("__lo90"), col("__hi90")).as("p90_within_bound"),
      )
  }

  /** KLL-driven range-partition split points
    * ([[graft.ops.Layout.rangeSplitPoints]] — repartitionByRange's
    * driver-side sampling replaced by the mergeable sketch): 7 interior
    * split points for an 8-way layout of order values. Checked as a
    * BALANCE differential — for every split index i, the exact
    * fraction of rows strictly below the chosen split value must land
    * within ±3% of i/8 (KLL at k = 200 carries ≈0.5% rank error, so
    * the boolean has 6× margin against merge-order movement). The
    * split values themselves stay out of the compared columns
    * (sketch-dependent within the bound, like the engine's own sampled
    * splits); the oracle re-derives the exact row count and literal
    * TRUE per index. */
  private val kllSplitsQ = Q(
    "misc_kll_splits",
    """SELECT CAST(s AS BIGINT) AS split_idx,
      |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_total,
      |  TRUE AS within_balance
      |FROM (SELECT unnest(generate_series(1, 7)) AS s)""".stripMargin,
  ) { (s, d) =>
    val rows = orders(s, d)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("__v"))
    val splits = graft.ops.Layout.rangeSplitPoints(rows, col("__v"), n = 8)
    rows
      .crossJoin(broadcast(splits))
      .groupBy("split_idx")
      .agg(
        sum(when(col("__v") < col("split_value"), 1L).otherwise(0L)).as("__n_below"),
        count(lit(1)).as("n_total"),
      )
      .select(
        col("split_idx"),
        col("n_total"),
        expr(
          """abs(CAST(CAST(__n_below AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)
            |    - (split_idx * 1000000) div 8) <= 30000""".stripMargin
        ).as("within_balance"),
      )
  }

  /** Integer-arithmetic PageRank ([[graft.ops.PageRank]]) over the
    * symmetric supplier↔customer trade graph (distinct pairs from
    * lineitem ⋈ orders, both directions, so no dangling nodes): 3
    * power-iteration rounds in ppm integer units, bit-identical under
    * any partitioning, replayed by the oracle as 3 unrolled CTE
    * rounds. The iterative-graph operator beyond connected
    * components: each round is join-on-src + shuffle-sum-on-dst. */
  private val pagerankTrade = Q(
    "misc_pagerank_trade",
    """WITH pairs AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT 2 * sk AS src, 2 * ck + 1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT 2 * ck + 1, 2 * sk FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |it1 AS (
      |  SELECT n.id, CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(r.r // d.d) AS m
      |    FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id),
      |it2 AS (
      |  SELECT n.id, CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(r.r // d.d) AS m
      |    FROM edges e JOIN it1 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id),
      |it3 AS (
      |  SELECT n.id, CAST(150000 + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(r.r // d.d) AS m
      |    FROM edges e JOIN it2 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id)
      |SELECT id, r AS rank_ppm FROM it3""".stripMargin,
  ) { (s, d) =>
    val pairs = sharedTradeRows(s, d)
      .select(col("sk"), col("ck"))
      .distinct()
    // both directions from ONE scan of the distinct-pair shuffle (a
    // union of two selects would run the distinct twice)
    val sNode = (col("sk") * 2).cast("long")
    val cNode = (col("ck") * 2 + 1).cast("long")
    val edges = pairs
      .select(
        explode(
          array(
            struct(sNode.as("src"), cNode.as("dst")),
            struct(cNode.as("src"), sNode.as("dst")),
          )
        ).as("e")
      )
      .select(col("e.src"), col("e.dst"))
    // symmetric edge list => no dangling nodes: the fast path holds
    graft.ops.PageRank.pageRank(edges, iters = 3, noDangling = true)
  }

  /** Personalized PageRank ([[graft.ops.PageRank.personalized]]) from
    * a 10-supplier seed set over the same trade graph — random walk
    * with restart, the "customers/suppliers most related to THESE
    * suppliers" recommender query. Teleport and start mass live only
    * on the seeds; 3 unrolled oracle rounds replay the integer
    * arithmetic exactly. */
  private val pprTrade = Q(
    "misc_ppr_trade",
    """WITH pairs AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT 2 * sk AS src, 2 * ck + 1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT 2 * ck + 1, 2 * sk FROM pairs),
      |seeds AS (SELECT DISTINCT 2 * sk AS id FROM pairs WHERE sk <= 10),
      |nodes AS (
      |  SELECT id, CAST(CASE WHEN id IN (SELECT id FROM seeds) THEN 1 ELSE 0 END AS INT) AS s
      |  FROM (SELECT DISTINCT src AS id FROM edges)),
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      |r0 AS (SELECT id, CAST(CASE WHEN s = 1 THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM nodes),
      |it1 AS (
      |  SELECT n.id, n.s,
      |    CAST(CASE WHEN n.s = 1 THEN 150000 ELSE 0 END
      |      + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(r.r // d.d) AS m
      |    FROM edges e JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id),
      |it2 AS (
      |  SELECT n.id, n.s,
      |    CAST(CASE WHEN n.s = 1 THEN 150000 ELSE 0 END
      |      + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(r.r // d.d) AS m
      |    FROM edges e JOIN it1 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id),
      |it3 AS (
      |  SELECT n.id, n.s,
      |    CAST(CASE WHEN n.s = 1 THEN 150000 ELSE 0 END
      |      + (850 * coalesce(c.m, 0)) // 1000 AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(r.r // d.d) AS m
      |    FROM edges e JOIN it2 r ON r.id = e.src JOIN deg d ON d.src = e.src
      |    GROUP BY 1) c ON c.id = n.id)
      |SELECT id, r AS rank_ppm FROM it3""".stripMargin,
  ) { (s, d) =>
    val pairs = sharedTradeRows(s, d)
      .select(col("sk"), col("ck"))
      .distinct()
    val sNode = (col("sk") * 2).cast("long")
    val cNode = (col("ck") * 2 + 1).cast("long")
    val edges = pairs
      .select(
        explode(
          array(
            struct(sNode.as("src"), cNode.as("dst")),
            struct(cNode.as("src"), sNode.as("dst")),
          )
        ).as("e")
      )
      .select(col("e.src"), col("e.dst"))
    val seeds = pairs.filter(col("sk") <= 10).select(sNode.as("id")).distinct()
    graft.ops.PageRank.personalized(edges, seeds, iters = 3)
  }

  /** HITS hubs-and-authorities ([[graft.ops.Graph.hits]]) over the
    * DIRECTED supplier→customer trade graph — the link-analysis dual
    * of [[pagerankTrade]]: suppliers score as hubs (they point at many
    * good customers), customers as authorities. Two full update rounds
    * in exact integer ppm with the per-round L∞ normalization stated
    * as `score·10⁶ div max(score)`; the oracle unrolls both rounds as
    * CTEs, each normalization a 1-row cross join — the same replay
    * discipline as the PageRank family. */
  private val hitsTrade = Q(
    "misc_hits_trade",
    """WITH pairs AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT 2 * sk AS src, 2 * ck + 1 AS dst FROM pairs),
      |nodes AS (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
      |a0 AS (SELECT id, CAST(1000000 AS BIGINT) AS a FROM nodes),
      |h1r AS (
      |  SELECT n.id, CAST(coalesce(s.v, 0) AS BIGINT) AS h
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.src AS id, sum(a.a) AS v FROM edges e JOIN a0 a ON a.id = e.dst
      |    GROUP BY 1) s ON s.id = n.id),
      |h1 AS (SELECT id, CAST(CASE WHEN mx > 0 THEN (h * 1000000) // mx ELSE 0 END AS BIGINT) AS h
      |       FROM h1r, (SELECT max(h) AS mx FROM h1r)),
      |a1r AS (
      |  SELECT n.id, CAST(coalesce(s.v, 0) AS BIGINT) AS a
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(h.h) AS v FROM edges e JOIN h1 h ON h.id = e.src
      |    GROUP BY 1) s ON s.id = n.id),
      |a1 AS (SELECT id, CAST(CASE WHEN mx > 0 THEN (a * 1000000) // mx ELSE 0 END AS BIGINT) AS a
      |       FROM a1r, (SELECT max(a) AS mx FROM a1r)),
      |h2r AS (
      |  SELECT n.id, CAST(coalesce(s.v, 0) AS BIGINT) AS h
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.src AS id, sum(a.a) AS v FROM edges e JOIN a1 a ON a.id = e.dst
      |    GROUP BY 1) s ON s.id = n.id),
      |h2 AS (SELECT id, CAST(CASE WHEN mx > 0 THEN (h * 1000000) // mx ELSE 0 END AS BIGINT) AS h
      |       FROM h2r, (SELECT max(h) AS mx FROM h2r)),
      |a2r AS (
      |  SELECT n.id, CAST(coalesce(s.v, 0) AS BIGINT) AS a
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS id, sum(h.h) AS v FROM edges e JOIN h2 h ON h.id = e.src
      |    GROUP BY 1) s ON s.id = n.id),
      |a2 AS (SELECT id, CAST(CASE WHEN mx > 0 THEN (a * 1000000) // mx ELSE 0 END AS BIGINT) AS a
      |       FROM a2r, (SELECT max(a) AS mx FROM a2r))
      |SELECT n.id, h2.h AS hub_ppm, a2.a AS auth_ppm
      |FROM nodes n JOIN h2 ON h2.id = n.id JOIN a2 ON a2.id = n.id""".stripMargin,
  ) { (s, d) =>
    val pairs = sharedTradeRows(s, d)
      .select(col("sk"), col("ck"))
      .distinct()
    val edges = pairs.select(
      (col("sk") * 2).cast("long").as("src"),
      (col("ck") * 2 + 1).cast("long").as("dst"),
    )
    graft.ops.Graph.hits(edges, rounds = 2)
  }

  /** Auto-sized Count-Min Sketch ([[graft.ops.Cms.sketchAuto]]):
    * (depth, width) chosen by the cardinality-probe ladder
    * ([[graft.ops.Cms.chooseCmsSize]] — the chooseBanding pattern
    * applied to sketches) instead of caller-fixed constants. The gate
    * uses the exact COUNT(DISTINCT) probe so the oracle replays the
    * selection with the identical CASE ladder, then verifies the
    * estimates AND the chosen dimensions — a drifted ladder or probe
    * fails the hash check, not just the ε-bound. */
  private val cmsAuto = Q(
    "misc_cms_auto",
    """WITH ks AS (SELECT l_partkey AS k FROM lineitem),
      |cfg AS (SELECT CASE WHEN dd <= 4096 THEN 4 ELSE 5 END AS depth,
      |               CASE WHEN dd <= 16 THEN 256 WHEN dd <= 256 THEN 4096
      |                    WHEN dd <= 4096 THEN 65536 ELSE 262144 END AS width
      |        FROM (SELECT count(DISTINCT k) AS dd FROM ks)),
      |rows_ AS (SELECT unnest(generate_series(0, depth - 1)) AS r FROM cfg),
      |c AS (SELECT r AS row_,
      |        CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || coalesce(CAST(k AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |          % (SELECT width FROM cfg) AS bucket,
      |        count(*) AS cnt
      |      FROM ks, rows_ GROUP BY 1, 2),
      |exact AS (SELECT k, count(*) AS exact_cnt FROM ks GROUP BY 1
      |          ORDER BY exact_cnt DESC, k LIMIT 10),
      |est AS (SELECT e.k, e.exact_cnt, min(coalesce(c.cnt, 0)) AS cms_estimate
      |        FROM exact e CROSS JOIN rows_ rr
      |        LEFT JOIN c ON c.row_ = rr.r
      |          AND c.bucket = CAST(('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || coalesce(CAST(e.k AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |            % (SELECT width FROM cfg)
      |        GROUP BY 1, 2)
      |SELECT k AS l_partkey, exact_cnt, CAST(cms_estimate AS BIGINT) AS cms_estimate,
      |  CAST((SELECT depth FROM cfg) AS BIGINT) AS depth,
      |  CAST((SELECT width FROM cfg) AS BIGINT) AS width,
      |  cms_estimate >= exact_cnt AS no_underestimate
      |FROM est""".stripMargin,
  ) { (s, d) =>
    val keys               = lineitem(s, d).select(col("l_partkey"))
    val (sk, depth, width) = graft.ops.Cms.sketchAuto(keys, "l_partkey", exactProbe = true)
    val exact = keys
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("l_partkey"))
      .limit(10)
    graft.ops.Cms
      .estimate(sk, exact, "l_partkey", depth, width)
      .join(exact, "l_partkey")
      .select(
        col("l_partkey"),
        col("exact_cnt"),
        col("cms_estimate"),
        lit(depth.toLong).as("depth"),
        lit(width.toLong).as("width"),
        (col("cms_estimate") >= col("exact_cnt")).as("no_underestimate"),
      )
  }

  /** Triangle census ([[graft.ops.Graph.triangleCensus]] — degree-ordered
    * wedge closing) over the customer co-purchase graph: an edge links
    * two customers whose orders share a part. The projection is the
    * classic bipartite→unipartite squaring, and it is CAPPED at 20
    * customers per part on BOTH engines — an uncapped projection of a
    * part bought by d customers emits C(d,2) edges, the quadratic blowup
    * every production co-occurrence pipeline guards with exactly this
    * heavy-hitter cap. The Spark side orients edges by (degree, id)
    * before the wedge self-join (out-degree bounded by arboricity, not
    * max degree); the oracle replays the count with the plain id-ordered
    * a<b<c form — same triangles, so the row must hash-match. */
  private val triangleCensus = Q(
    "misc_triangle_census",
    """WITH pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |e AS (
      |  SELECT DISTINCT x.ck AS a, y.ck AS b
      |  FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |  JOIN ok ON ok.pk = x.pk),
      |deg AS (
      |  SELECT n, count(*) AS d
      |  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |w AS (SELECT coalesce(CAST(sum(d * (d - 1)) AS BIGINT), 0) AS w2 FROM deg),
      |tri AS (
      |  SELECT count(*) AS t
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
      |SELECT
      |  (SELECT count(*) FROM deg) AS nodes,
      |  (SELECT count(*) FROM e) AS edges,
      |  (SELECT w2 // 2 FROM w) AS wedges,
      |  (SELECT t FROM tri) AS triangles,
      |  (SELECT CASE WHEN w2 = 0 THEN 0
      |               ELSE (3 * (SELECT t FROM tri) * 1000000) // (w2 // 2) END
      |   FROM w) AS closure_ppm""".stripMargin,
  ) { (s, d) =>
    graft.ops.Graph.triangleCensus(coPurchaseEdges(s, d))
  }

  /** Capped co-purchase edge list (customers sharing a part), shared by
    * the triangle census and k-core. The build avoids the naive pc⋈pc
    * self-join (which reads the pair projection three times): the
    * per-part customer set is aggregated ONCE — the ≤20 cap is enforced
    * by a distinct-count semi-join BEFORE collect_set, so no row ever
    * materializes an uncapped set — and the a<b pairs come from
    * exploding the sorted set (map-side, ≤ C(20,2) per part). After the
    * cap join the data is already hash-partitioned by pk, so the
    * collect_set aggregation shuffles nothing.
    * `raw` (the lineitem⋈orders projection — the build's dominant
    * linear term) feeds both the cap aggregation and the semi-join
    * probe; it reads [[sharedTradeRows]] (persisted, shared with the
    * two PageRank queries), so it is computed once per corpus. */
  /** Pair list WITH multiplicity, persisted once per (session,
    * corpus): the capped-set pair explosion is the dominant cost both
    * [[coPurchaseEdges]] (distinct) and [[coPurchaseWeighted]] (count)
    * derive from with one cheap aggregate each. */
  private val coPurchasePairs = Shared("copurchase_pairs") { (s, d) =>
    coPurchasePairsUncached(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def coPurchasePairsUncached(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame = {
    val raw = sharedTradeRows(s, d).select(col("pk"), col("ck"))
    val ok = raw
      .groupBy("pk")
      .agg(countDistinct(col("ck")).as("c"))
      .where(col("c") <= 20)
      .select("pk")
    raw
      .join(ok, Seq("pk"), "left_semi")
      .groupBy("pk")
      .agg(sort_array(collect_set(col("ck"))).as("cks"))
      .select(
        explode(
          expr(
            "flatten(transform(cks, (x, i) -> " +
              "transform(slice(cks, i + 2, size(cks)), y -> struct(x AS a, y AS b))))"
          )
        ).as("p")
      )
      .select(col("p.a").as("a"), col("p.b").as("b"))
  }

  /** The deduplicated co-purchase edge list, persisted once per
    * (session, corpus) — five gates (triangle census, k-core, local
    * clustering, BFS, SSSP via the weighted twin's shared pair base)
    * consume it, and the pair EXPLOSION plus its distinct is the
    * dominant build cost they were each re-paying. */
  private val coPurchaseEdges = Shared("copurchase_edges", Set(
    "misc_triangle_census", "misc_kcore", "misc_bfs_khop", "misc_sssp_bounded",
    "misc_clustering_coeff", "misc_link_predict", "misc_diameter_sweep",
  )) { (s, d) =>
    coPurchasePairs(s, d).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The weighted form: `cnt` = number of (capped) parts the two
    * customers share — the tie-strength the SSSP gate inverts into a
    * distance. Same pair generation as [[coPurchaseEdges]]; the
    * distinct becomes a count aggregate on the identical key. */
  private def coPurchaseWeighted(
      s: org.apache.spark.sql.SparkSession,
      d: String,
  ): org.apache.spark.sql.DataFrame =
    coPurchasePairs(s, d).groupBy("a", "b").agg(count(lit(1)).as("cnt"))

  /** Per-node clustering coefficient over the capped co-purchase graph
    * ([[graft.ops.Graph.localClustering]]): each customer's
    * neighborhood closure in exact ppm. The oracle counts each
    * triangle's three corners from the plain id-ordered a<b<c form —
    * same triangles as the degree-ordered implementation, so every row
    * hash-matches. */
  private val clusteringCoeff = Q(
    "misc_clustering_coeff",
    """WITH pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |e AS (
      |  SELECT DISTINCT x.ck AS a, y.ck AS b
      |  FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |  JOIN ok ON ok.pk = x.pk),
      |deg AS (
      |  SELECT n, count(*) AS degree
      |  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |pn AS (
      |  SELECT n, count(*) AS triangles
      |  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |  GROUP BY 1)
      |SELECT deg.n, CAST(degree AS BIGINT) AS degree,
      |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
      |  CAST(CASE WHEN degree < 2 THEN 0
      |       ELSE (2 * coalesce(triangles, 0) * 1000000) // (degree * (degree - 1)) END
      |    AS BIGINT) AS coeff_ppm
      |FROM deg LEFT JOIN pn ON pn.n = deg.n""".stripMargin,
  ) { (s, d) =>
    graft.ops.Graph.localClustering(coPurchaseEdges(s, d))
  }

  /** One-pass column profiler ([[graft.ops.Profile.profile]]): the
    * ingestion data-quality census (null rate, exact cardinality, value
    * range per column) as a single unpivot + one k-key aggregation —
    * map-side partials do all the work, the shuffle is k rows per task.
    * The oracle recomputes each column's row independently. */
  private val profileColumns = Q(
    "misc_profile_columns",
    """SELECT 'doc_id' AS "column", count(*) AS n,
      |  count(*) - count(doc_id) AS nulls, count(DISTINCT doc_id) AS n_distinct,
      |  CAST(min(doc_id) AS BIGINT) AS min_n, CAST(max(doc_id) AS BIGINT) AS max_n,
      |  CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars),
      |  CAST(min(n_chars) AS BIGINT), CAST(max(n_chars) AS BIGINT),
      |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      |FROM documents
      |UNION ALL
      |SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), min(lang), max(lang)
      |FROM documents
      |UNION ALL
      |SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), min(source), max(source)
      |FROM documents""".stripMargin,
  ) { (s, d) =>
    graft.ops.Profile.profile(
      documents(s, d),
      Seq(("doc_id", true), ("n_chars", true), ("lang", false), ("source", false)),
    )
  }

  /** The 100 TB profiler form ([[graft.ops.Profile.profileApprox]] —
    * HLL++ cardinalities, so only k mergeable sketches shuffle),
    * checked as an error-bound DIFFERENTIAL like
    * misc_approx_count_distinct: each column's estimate must land
    * within 3·rsd of the exact cardinality (rsd 0.05, the
    * approx_count_distinct default); the oracle recomputes the exact
    * counts and literal TRUE, so sketch drift flips the boolean and
    * fails the hash. The estimates stay out of the compared columns
    * (engine-specific). */
  private val profileApproxQ = Q(
    "misc_profile_approx",
    """SELECT 'doc_id' AS "column", count(*) AS n, count(*) - count(doc_id) AS nulls,
      |  count(DISTINCT doc_id) AS exact_distinct, TRUE AS within_bound FROM documents
      |UNION ALL
      |SELECT 'n_chars', count(*), count(*) - count(n_chars),
      |  count(DISTINCT n_chars), TRUE FROM documents
      |UNION ALL
      |SELECT 'lang', count(*), count(*) - count(lang),
      |  count(DISTINCT lang), TRUE FROM documents
      |UNION ALL
      |SELECT 'source', count(*), count(*) - count(source),
      |  count(DISTINCT source), TRUE FROM documents""".stripMargin,
  ) { (s, d) =>
    val cols  = Seq(("doc_id", true), ("n_chars", true), ("lang", false), ("source", false))
    val exact = graft.ops.Profile.profile(documents(s, d), cols)
    val approx = graft.ops.Profile
      .profileApprox(documents(s, d), cols)
      .select(col("column"), col("n_distinct").as("__approx"))
    exact
      .join(approx, "column")
      .select(
        col("column"),
        col("n"),
        col("nulls"),
        col("n_distinct").as("exact_distinct"),
        (abs(col("__approx") - col("n_distinct")) <=
          lit(3) * lit(0.05) * col("n_distinct")).as("within_bound"),
      )
  }

  /** Compaction bin-packing ([[graft.ops.Layout.compactionBins]] — the
    * `OPTIMIZE` planning step): greedy (size DESC, id) packing per
    * partition with bin = preceding-cumsum div target. Gate treats
    * documents as the file-stats table (source = table partition,
    * n_chars = file bytes); the window runs over metadata rows only.
    * Exact integer arithmetic, oracle replays verbatim. */
  private val compactionBinsQ = Q(
    "misc_compaction_bins",
    """SELECT source, doc_id, n_chars,
      |  CAST(coalesce(sum(n_chars) OVER (
      |    PARTITION BY source ORDER BY n_chars DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    // 65536 AS BIGINT) AS bin
      |FROM documents""".stripMargin,
  ) { (s, d) =>
    graft.ops.Layout
      .compactionBins(
        documents(s, d).select("source", "doc_id", "n_chars"),
        partCol = "source",
        idCol = "doc_id",
        sizeCol = "n_chars",
        targetBytes = 65536L,
      )
  }

  /** Exact winsorization ([[graft.ops.Stats]] — outlier clipping at
    * nearest-rank p01/p99 via the bounded-domain histogram, the
    * txt_lm_prune discipline on a numeric feature): price cents
    * clamped into their [p01, p99] envelope, reported as per-flag
    * integer aggregates plus the thresholds themselves — every number
    * exact, so the oracle replays thresholds AND clamped sums
    * bit-for-bit. Cents come from `round(price·100)` — identical IEEE
    * double arithmetic on both engines. */
  private val winsorizeQ = Q(
    "misc_winsorize",
    """WITH cents AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      |  FROM lineitem),
      |hist AS (SELECT v AS s, count(*) AS c FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT s, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist),
      |th AS (
      |  SELECT
      |    min(CASE WHEN cum >= greatest(1, ((n * 10000) + 999999) // 1000000)
      |             THEN s END) AS lo,
      |    min(CASE WHEN cum >= greatest(1, ((n * 990000) + 999999) // 1000000)
      |             THEN s END) AS hi
      |  FROM cum)
      |SELECT flag, count(*) AS n,
      |  CAST(sum(greatest(lo, least(hi, v))) AS BIGINT) AS sum_wv,
      |  min(greatest(lo, least(hi, v))) AS min_wv,
      |  max(greatest(lo, least(hi, v))) AS max_wv,
      |  CAST(max(lo) AS BIGINT) AS p01_cents, CAST(max(hi) AS BIGINT) AS p99_cents
      |FROM cents, th GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val cents = lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
    )
    val th      = graft.ops.Stats.quantileThresholds(cents, "v", 10000L, 990000L)
    val clamped = greatest(col("__lo"), least(col("__hi"), col("v")))
    cents
      .crossJoin(broadcast(th))
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n"),
        sum(clamped).as("sum_wv"),
        min(clamped).as("min_wv"),
        max(clamped).as("max_wv"),
        max(col("__lo")).as("p01_cents"),
        max(col("__hi")).as("p99_cents"),
      )
  }

  /** Covariance-structure sufficient statistics
    * ([[graft.ops.Stats.corrSufficientStats]]): n, Σx, Σx², Σxy for
    * (quantity, dollars, discount-ppm) in ONE aggregation pass —
    * exact integers via DECIMAL(38,0) accumulation, so the oracle
    * (DuckDB sums BIGINT through HUGEINT) matches bit-for-bit; the
    * Pearson divide is left to the consumer as the single float op. */
  private val corrStatsQ = Q(
    "misc_corr_stats",
    """SELECT count(*) AS n,
      |  CAST(sum(qty) AS BIGINT) AS sum_qty,
      |  CAST(sum(dollars) AS BIGINT) AS sum_dollars,
      |  CAST(sum(disc) AS BIGINT) AS sum_disc,
      |  CAST(sum(qty * qty) AS BIGINT) AS sum_qty_qty,
      |  CAST(sum(dollars * dollars) AS BIGINT) AS sum_dollars_dollars,
      |  CAST(sum(disc * disc) AS BIGINT) AS sum_disc_disc,
      |  CAST(sum(qty * dollars) AS BIGINT) AS sum_qty_dollars,
      |  CAST(sum(qty * disc) AS BIGINT) AS sum_qty_disc,
      |  CAST(sum(dollars * disc) AS BIGINT) AS sum_dollars_disc
      |FROM (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
      |             CAST(round(l_extendedprice) AS BIGINT) AS dollars,
      |             CAST(round(l_discount * 1000000) AS BIGINT) AS disc
      |      FROM lineitem)""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.corrSufficientStats(
      lineitem(s, d),
      Seq(
        "qty"     -> expr("CAST(round(l_quantity) AS BIGINT)"),
        "dollars" -> expr("CAST(round(l_extendedprice) AS BIGINT)"),
        "disc"    -> expr("CAST(round(l_discount * 1000000) AS BIGINT)"),
      ),
    )
  }

  /** Pairwise-deletion covariance statistics
    * ([[graft.ops.Stats.corrPairwiseStats]]): the sparse-feature twin
    * of `misc_corr_stats`. Sparsity is simulated deterministically
    * (qty missing on returned lines, dollars missing on every
    * third line number), so each pair aggregates a DIFFERENT row set with its
    * own n — the differential that separates pairwise from listwise
    * deletion. One aggregation pass; the oracle is one SELECT per pair
    * over the both-non-null slice. */
  private val corrPairwiseQ = Q(
    "misc_corr_pairwise",
    """WITH f AS (
      |  SELECT
      |    CASE WHEN l_returnflag = 'R' THEN NULL
      |         ELSE CAST(round(l_quantity) AS BIGINT) END AS qty,
      |    CASE WHEN l_linenumber % 3 = 0 THEN NULL
      |         ELSE CAST(round(l_extendedprice) AS BIGINT) END AS dollars,
      |    CAST(round(l_discount * 1000000) AS BIGINT) AS disc
      |  FROM lineitem)
      |SELECT 'qty' AS x, 'dollars' AS y, count(*) AS n,
      |  CAST(sum(qty) AS BIGINT) AS sum_x, CAST(sum(dollars) AS BIGINT) AS sum_y,
      |  CAST(sum(qty * qty) AS BIGINT) AS sum_x_x,
      |  CAST(sum(dollars * dollars) AS BIGINT) AS sum_y_y,
      |  CAST(sum(qty * dollars) AS BIGINT) AS sum_x_y
      |FROM f WHERE qty IS NOT NULL AND dollars IS NOT NULL
      |UNION ALL
      |SELECT 'qty', 'disc', count(*),
      |  CAST(sum(qty) AS BIGINT), CAST(sum(disc) AS BIGINT),
      |  CAST(sum(qty * qty) AS BIGINT), CAST(sum(disc * disc) AS BIGINT),
      |  CAST(sum(qty * disc) AS BIGINT)
      |FROM f WHERE qty IS NOT NULL AND disc IS NOT NULL
      |UNION ALL
      |SELECT 'dollars', 'disc', count(*),
      |  CAST(sum(dollars) AS BIGINT), CAST(sum(disc) AS BIGINT),
      |  CAST(sum(dollars * dollars) AS BIGINT), CAST(sum(disc * disc) AS BIGINT),
      |  CAST(sum(dollars * disc) AS BIGINT)
      |FROM f WHERE dollars IS NOT NULL AND disc IS NOT NULL""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.corrPairwiseStats(
      lineitem(s, d),
      Seq(
        "qty" -> expr(
          "CASE WHEN l_returnflag = 'R' THEN NULL ELSE CAST(round(l_quantity) AS BIGINT) END"),
        "dollars" -> expr(
          "CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE CAST(round(l_extendedprice) AS BIGINT) END"),
        "disc" -> expr("CAST(round(l_discount * 1000000) AS BIGINT)"),
      ),
    )
  }

  /** Quantile (rank) normalization
    * ([[graft.ops.Stats.quantileNormalize]]): percent-rank in integer
    * ppm via histogram ranks joined back on the value key — the
    * scalable twin of the `win_pct_rank_cume` window form (which
    * globally sorts; this shuffles one groupBy + one equi-join). The
    * oracle replays the histogram CTE verbatim; an OpsSpec case pins
    * ppm-floored equality with `percent_rank()` itself. */
  private val quantileNormalizeQ = Q(
    "misc_quantile_normalize",
    """WITH cents AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |hist AS (SELECT v, count(*) AS c FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist),
      |pr AS (
      |  SELECT v, CASE WHEN n <= 1 THEN 0
      |                 ELSE CAST(((cum - c) * 1000000) // (n - 1) AS BIGINT) END AS pr_ppm
      |  FROM cum)
      |SELECT o_orderkey, v, pr_ppm FROM cents JOIN pr USING (v)""".stripMargin,
  ) { (s, d) =>
    val cents = orders(s, d).select(
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
    )
    graft.ops.Stats.quantileNormalize(cents, "v").select("o_orderkey", "v", "pr_ppm")
  }

  /** Equi-depth histogram ([[graft.ops.Stats.equiDepthHistogram]]):
    * the ANALYZE-class CBO statistics artifact — 16 rank-assigned
    * buckets over order-price cents, tie-safe (a value never splits
    * across buckets), all-integer. Oracle replays the rank arithmetic
    * over the same histogram CTE. */
  private val equiDepthQ = Q(
    "misc_equi_depth_hist",
    """WITH cents AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |hist AS (SELECT v AS s, count(*) AS c FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT s, c, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist)
      |SELECT CAST(least(((cum - c) * 16) // n, 15) AS BIGINT) AS bucket,
      |  min(s) AS lo, max(s) AS hi, CAST(sum(c) AS BIGINT) AS cnt
      |FROM cum GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.equiDepthHistogram(
      orders(s, d).select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v")),
      "v",
      16,
    )
  }

  /** Distribution drift ([[graft.ops.Stats.distributionDrift]]): the
    * urgent-priority order slice scored against the full order-price
    * distribution — reference equi-depth buckets, upper-edge
    * assignment, total-variation distance in exact integer ppm. The
    * oracle replays bucket derivation, assignment (correlated
    * min-edge), and the TV arithmetic through HUGEINT. */
  private val distDriftQ = Q(
    "misc_distribution_drift",
    """WITH cents AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderpriority FROM orders),
      |hist AS (SELECT v AS s, count(*) AS c FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT s, c, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist),
      |ref AS (
      |  SELECT CAST(least(((cum - c) * 8) // n, 7) AS BIGINT) AS bucket,
      |    max(s) AS hi, CAST(sum(c) AS BIGINT) AS ref_cnt
      |  FROM cum GROUP BY 1),
      |curh AS (
      |  SELECT v, count(*) AS c FROM cents WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      |curb AS (
      |  SELECT coalesce((SELECT min(r.bucket) FROM ref r WHERE x.v <= r.hi), 7) AS bucket,
      |    CAST(sum(c) AS BIGINT) AS cur_cnt
      |  FROM curh x GROUP BY 1),
      |pb AS (
      |  SELECT ref.bucket, ref_cnt, coalesce(cur_cnt, 0) AS cur_cnt
      |  FROM ref LEFT JOIN curb ON ref.bucket = curb.bucket),
      |tot AS (
      |  SELECT CAST(sum(ref_cnt) AS BIGINT) AS n, CAST(sum(cur_cnt) AS BIGINT) AS m FROM pb),
      |tv AS (
      |  SELECT CASE WHEN t.m = 0 THEN 1000000
      |    ELSE CAST((sum(abs(ref_cnt * t.m - cur_cnt * t.n)) * 1000000)
      |      // (2 * t.n * t.m) AS BIGINT)
      |    END AS tv_ppm
      |  FROM pb, tot t GROUP BY t.n, t.m)
      |SELECT bucket, ref_cnt, cur_cnt, (SELECT tv_ppm FROM tv) AS tv_ppm FROM pb""".stripMargin,
  ) { (s, d) =>
    val cents = orders(s, d).select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
      col("o_orderpriority"),
    )
    graft.ops.Stats.distributionDrift(
      cents,
      cents.where(col("o_orderpriority") === "1-URGENT"),
      "v",
      8,
    )
  }

  /** Per-segment drift ([[graft.ops.Stats.driftBySegment]]): every
    * source's document-length distribution scored against the ONE
    * corpus-wide equi-depth reference — the curation artifact that
    * surfaces the outlier source in one pass. The oracle replays the
    * grid (distinct sources × reference buckets), the correlated
    * min-edge assignment, and the per-source TV windows. */
  private val driftBySegmentQ = Q(
    "misc_drift_by_segment",
    """WITH hist AS (SELECT n_chars AS s, count(*) AS c FROM documents GROUP BY 1),
      |cum AS (
      |  SELECT s, c, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist),
      |ref AS (
      |  SELECT CAST(least(((cum - c) * 8) // n, 7) AS BIGINT) AS bucket,
      |    max(s) AS hi, CAST(sum(c) AS BIGINT) AS ref_cnt
      |  FROM cum GROUP BY 1),
      |curh AS (SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
      |curb AS (
      |  SELECT source,
      |    coalesce((SELECT min(r.bucket) FROM ref r WHERE x.v <= r.hi), 7) AS bucket,
      |    CAST(sum(c) AS BIGINT) AS cur_cnt
      |  FROM curh x GROUP BY 1, 2),
      |grid AS (
      |  SELECT sg.source, r.bucket, r.ref_cnt
      |  FROM (SELECT DISTINCT source FROM documents) sg CROSS JOIN ref r),
      |pb AS (
      |  SELECT g.source, g.bucket, g.ref_cnt, coalesce(cb.cur_cnt, 0) AS cur_cnt
      |  FROM grid g LEFT JOIN curb cb ON g.source = cb.source AND g.bucket = cb.bucket),
      |tot AS (
      |  SELECT source, bucket, ref_cnt, cur_cnt,
      |    sum(ref_cnt) OVER (PARTITION BY source) AS n,
      |    sum(cur_cnt) OVER (PARTITION BY source) AS m
      |  FROM pb),
      |sa AS (
      |  SELECT source, bucket, ref_cnt, cur_cnt, n, m,
      |    sum(abs(ref_cnt * m - cur_cnt * n)) OVER (PARTITION BY source) AS sumabs
      |  FROM tot)
      |SELECT source, bucket, ref_cnt, cur_cnt,
      |  CASE WHEN m = 0 THEN 1000000
      |       ELSE CAST((sumabs * 1000000) // (2 * n * m) AS BIGINT) END AS tv_ppm
      |FROM sa""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.driftBySegment(
      documents(s, d).select(col("source"), col("n_chars").cast("long").as("n_chars")),
      "source",
      "n_chars",
      8,
    )
  }

  /** Per-segment quantile normalization
    * ([[graft.ops.Stats.quantileNormalizeBy]]): each document's length
    * rank WITHIN ITS SOURCE — the feature-prep form when segments have
    * incomparable raw scales. The oracle replays the per-source
    * histogram ranks and the join-back. */
  private val quantileNormalizeByQ = Q(
    "misc_quantile_normalize_by",
    """WITH d AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
      |hist AS (SELECT source, n_chars AS s, count(*) AS c FROM d GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, s, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS n
      |  FROM hist),
      |pr AS (
      |  SELECT source, s, CASE WHEN n <= 1 THEN 0
      |    ELSE CAST(((cum - c) * 1000000) // (n - 1) AS BIGINT) END AS pr_ppm
      |  FROM cum)
      |SELECT d.doc_id, d.source, d.n_chars, pr.pr_ppm
      |FROM d LEFT JOIN pr ON d.source = pr.source AND d.n_chars = pr.s""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.quantileNormalizeBy(
      documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars")),
      "source",
      "n_chars",
    )
  }

  /** Robust outlier flags ([[graft.ops.Stats.madOutliers]]): order
    * prices screened by MEDIAN ± k·MAD instead of mean ± k·σ — the
    * heavy-tail-safe fence (kPpm 4_447_800 = 3 × the 1.4826 normal
    * consistency constant). Both medians are nearest-rank; the MAD's
    * deviation histogram is derived from the value histogram, so the
    * oracle replays median, MAD, and every per-row flag bit-for-bit. */
  private val madOutliersQ = Q(
    "misc_mad_outliers",
    """WITH cents AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |hist AS (SELECT v AS s, count(*) AS c FROM cents GROUP BY 1),
      |cum AS (
      |  SELECT s, c, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM hist),
      |med AS (
      |  SELECT min(CASE WHEN cum >= greatest(1, ((n * 500000) + 999999) // 1000000)
      |              THEN s END) AS med
      |  FROM cum),
      |devhist AS (SELECT abs(s - med) AS d, sum(c) AS c FROM hist, med GROUP BY 1),
      |devcum AS (
      |  SELECT d, c, sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(c) OVER () AS n
      |  FROM devhist),
      |mad AS (
      |  SELECT min(CASE WHEN cum >= greatest(1, ((n * 500000) + 999999) // 1000000)
      |              THEN d END) AS mad
      |  FROM devcum)
      |SELECT o_orderkey, v, abs(v - med) AS dev,
      |  (abs(v - med) * 1000000 > mad * 4447800) AS is_outlier
      |FROM cents, med, mad""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.madOutliers(
      orders(s, d).select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
      ),
      "v",
      4447800L,
    )
  }

  /** k-core decomposition ([[graft.ops.Graph.kcore]]) of the capped
    * co-purchase graph: the dense-cohort extraction (peel nodes of
    * degree < 16 until fixpoint — at this corpus the cascade genuinely
    * iterates: round 1 removes low-degree customers, which drops
    * neighbors below 16 for round 2). The oracle unrolls 4 peel rounds
    * as CTEs (the PageRank convention); the Spark side runs the same 4
    * rounds with a proven-fixpoint early exit, so both agree whether or
    * not the cap binds. */
  private val kcoreQ = Q(
    "misc_kcore",
    """WITH pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |e0 AS (
      |  SELECT DISTINCT x.ck AS a, y.ck AS b
      |  FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |  JOIN ok ON ok.pk = x.pk),
      |d1 AS (SELECT n, count(*) AS c
      |       FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
      |k1 AS (SELECT n FROM d1 WHERE c >= 16),
      |e1 AS (SELECT a, b FROM e0
      |       WHERE a IN (SELECT n FROM k1) AND b IN (SELECT n FROM k1)),
      |d2 AS (SELECT n, count(*) AS c
      |       FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
      |k2 AS (SELECT n FROM d2 WHERE c >= 16),
      |e2 AS (SELECT a, b FROM e1
      |       WHERE a IN (SELECT n FROM k2) AND b IN (SELECT n FROM k2)),
      |d3 AS (SELECT n, count(*) AS c
      |       FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
      |k3 AS (SELECT n FROM d3 WHERE c >= 16),
      |e3 AS (SELECT a, b FROM e2
      |       WHERE a IN (SELECT n FROM k3) AND b IN (SELECT n FROM k3)),
      |d4 AS (SELECT n, count(*) AS c
      |       FROM (SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1),
      |k4 AS (SELECT n FROM d4 WHERE c >= 16),
      |e4 AS (SELECT a, b FROM e3
      |       WHERE a IN (SELECT n FROM k4) AND b IN (SELECT n FROM k4))
      |SELECT n, count(*) AS deg
      |FROM (SELECT a AS n FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    graft.ops.Graph.kcore(coPurchaseEdges(s, d), k = 16, rounds = 4)
  }

  /** Top-20 predicted links over the capped co-purchase graph
    * ([[graft.ops.Graph.linkPrediction]]): common-neighbor count +
    * neighborhood-Jaccard in exact ppm for every non-adjacent
    * distance-2 pair — the "should be connected but isn't"
    * recommender/record-linkage primitive. The oracle replays the
    * wedge count, the NOT-EXISTS edge removal, and the ranked cut. */
  private val linkPredictQ = Q(
    "misc_link_predict",
    """WITH pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |e AS (
      |  SELECT DISTINCT x.ck AS a, y.ck AS b
      |  FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |  JOIN ok ON ok.pk = x.pk),
      |adj AS (SELECT a AS m, n FROM (SELECT a, b AS n FROM e UNION ALL SELECT b, a FROM e) t(a, n)),
      |deg AS (SELECT n, count(*) AS degree FROM adj GROUP BY 1),
      |cand AS (
      |  SELECT x.n AS u, y.n AS v, count(*) AS cn
      |  FROM adj x JOIN adj y ON x.m = y.m AND x.n < y.n
      |  GROUP BY 1, 2),
      |nonedge AS (
      |  SELECT c.u, c.v, c.cn FROM cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.u AND e.b = c.v)),
      |scored AS (
      |  SELECT u AS a, v AS b, cn, du.degree AS deg_a, dv.degree AS deg_b,
      |    (cn * 1000000) // (du.degree + dv.degree - cn) AS jaccard_ppm
      |  FROM nonedge JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v)
      |SELECT a, b, cn, deg_a, deg_b, CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm, rnk
      |FROM (SELECT *, row_number() OVER (ORDER BY jaccard_ppm DESC, cn DESC, a, b) AS rnk
      |      FROM scored)
      |WHERE rnk <= 20""".stripMargin,
  ) { (s, d) =>
    graft.ops.Graph.linkPrediction(coPurchaseEdges(s, d), k = 20)
  }

  /** Deterministic label propagation ([[graft.ops.Graph.labelPropagation]])
    * over the symmetric trade graph: 3 synchronous self-vote rounds,
    * smallest-label tie-break — the community-detection member of the
    * graph family, replayed by the oracle as unrolled CTE rounds with
    * `row_number() OVER (ORDER BY c DESC, label)` standing in for the
    * Spark side's min-struct argmax (same selection, both engines).
    * Node ids are the DISJOINT NUMERIC encoding 2·sk / 2·ck+1, not
    * tagged strings: the votes table is re-shuffled on (id, label)
    * every round, and 8-byte longs cut that recurring exchange-and-
    * compare bill ~2× vs varchar keys (measured 15.0 → ~6 s at sf0.1)
    * — at a 1000-executor scale the per-round shuffle IS the cost, so
    * key width is the lever. Ties resolve by the numeric order, same
    * rule both engines. */
  private val labelPropQ = Q(
    "misc_labelprop",
    """WITH pairs AS (
      |  SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (
      |  SELECT 2 * sk AS src, 2 * ck + 1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT 2 * ck + 1, 2 * sk FROM pairs),
      |l0 AS (SELECT DISTINCT dst AS id, dst AS label FROM edges),
      |v1 AS (SELECT id, label, count(*) AS c FROM (
      |         SELECT e.dst AS id, l.label FROM edges e JOIN l0 l ON l.id = e.src
      |         UNION ALL SELECT id, label FROM l0) GROUP BY 1, 2),
      |l1 AS (SELECT id, label FROM (
      |         SELECT id, label,
      |           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
      |         FROM v1) WHERE rn = 1),
      |v2 AS (SELECT id, label, count(*) AS c FROM (
      |         SELECT e.dst AS id, l.label FROM edges e JOIN l1 l ON l.id = e.src
      |         UNION ALL SELECT id, label FROM l1) GROUP BY 1, 2),
      |l2 AS (SELECT id, label FROM (
      |         SELECT id, label,
      |           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
      |         FROM v2) WHERE rn = 1),
      |v3 AS (SELECT id, label, count(*) AS c FROM (
      |         SELECT e.dst AS id, l.label FROM edges e JOIN l2 l ON l.id = e.src
      |         UNION ALL SELECT id, label FROM l2) GROUP BY 1, 2),
      |l3 AS (SELECT id, label FROM (
      |         SELECT id, label,
      |           row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
      |         FROM v3) WHERE rn = 1)
      |SELECT id, label FROM l3""".stripMargin,
  ) { (s, d) =>
    val pairs = sharedTradeRows(s, d).select(col("sk"), col("ck")).distinct()
    val sNode = (col("sk") * 2).cast("long")
    val cNode = (col("ck") * 2 + 1).cast("long")
    val edges = pairs
      .select(
        explode(
          array(
            struct(sNode.as("src"), cNode.as("dst")),
            struct(cNode.as("src"), sNode.as("dst")),
          )
        ).as("e")
      )
      .select(col("e.src"), col("e.dst"))
    // distinct pairs × parity-disjoint node encoding ⇒ the two
    // directions can't collide: the edge list is distinct by
    // construction, so the op's dedup exchange is skipped.
    graft.ops.Graph.labelPropagation(edges, rounds = 3, edgesDistinct = true)
  }

  /** Markov-chain steady state of the behavioral transition graph
    * ([[graft.ops.Graph.markovSteadyState]]): 3 power-iteration rounds
    * in exact ppm over `evt_transition_matrix`'s weighted edges — the
    * un-teleported cousin of [[pagerankTrade]] (no damping; mass moves
    * only along observed transitions, absorbing states hold theirs).
    * The oracle unrolls the rounds as CTEs, one flooring division per
    * edge per round, same arithmetic both engines. */
  private val markovSteadyQ = Q(
    "misc_markov_steady",
    """WITH seq_ AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |e AS (SELECT event_type AS src, next_type AS dst, count(*) AS n FROM seq_
      |      WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |outs AS (SELECT src, sum(n) AS out_n FROM e GROUP BY 1),
      |states AS (SELECT DISTINCT s AS state
      |           FROM (SELECT src AS s FROM e UNION SELECT dst AS s FROM e)),
      |p0 AS (SELECT state,
      |         CAST(1000000 // (SELECT count(*) FROM states) AS BIGINT) AS pi
      |       FROM states),
      |r1 AS (
      |  SELECT st.state,
      |    CAST(coalesce(m.m, 0) + CASE WHEN o.src IS NULL THEN p.pi ELSE 0 END AS BIGINT) AS pi
      |  FROM states st
      |  JOIN p0 p ON p.state = st.state
      |  LEFT JOIN outs o ON o.src = st.state
      |  LEFT JOIN (SELECT e.dst AS state, sum((p.pi * e.n) // o.out_n) AS m
      |             FROM p0 p JOIN e ON e.src = p.state JOIN outs o ON o.src = p.state
      |             GROUP BY 1) m ON m.state = st.state),
      |r2 AS (
      |  SELECT st.state,
      |    CAST(coalesce(m.m, 0) + CASE WHEN o.src IS NULL THEN p.pi ELSE 0 END AS BIGINT) AS pi
      |  FROM states st
      |  JOIN r1 p ON p.state = st.state
      |  LEFT JOIN outs o ON o.src = st.state
      |  LEFT JOIN (SELECT e.dst AS state, sum((p.pi * e.n) // o.out_n) AS m
      |             FROM r1 p JOIN e ON e.src = p.state JOIN outs o ON o.src = p.state
      |             GROUP BY 1) m ON m.state = st.state),
      |r3 AS (
      |  SELECT st.state,
      |    CAST(coalesce(m.m, 0) + CASE WHEN o.src IS NULL THEN p.pi ELSE 0 END AS BIGINT) AS pi
      |  FROM states st
      |  JOIN r2 p ON p.state = st.state
      |  LEFT JOIN outs o ON o.src = st.state
      |  LEFT JOIN (SELECT e.dst AS state, sum((p.pi * e.n) // o.out_n) AS m
      |             FROM r2 p JOIN e ON e.src = p.state JOIN outs o ON o.src = p.state
      |             GROUP BY 1) m ON m.state = st.state)
      |SELECT state, pi AS pi_ppm FROM r3""".stripMargin,
  ) { (s, d) =>
    graft.ops.Graph
      .markovSteadyState(Events.sharedTransitionPairs(s, d), "src", "dst", "n", rounds = 3)
  }

  /** Benford first-digit audit — the data-quality screen for
    * fabricated or mis-generated numeric columns (real multiplicative
    * data follows log10(1+1/d); uniform synthetics don't, and the gate
    * exposes exactly that). One scan to a 9-row digit census; the
    * expected shares are the floor-ppm Benford constants hardcoded
    * IDENTICALLY in both engines (no float log at query time), and the
    * deviation is an exact integer. */
  private val benfordQ = Q(
    "misc_benford",
    """WITH c AS (
      |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
      |              AS BIGINT) AS digit
      |  FROM orders WHERE round(o_totalprice * 100) >= 1),
      |h AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
      |t AS (SELECT sum(n) AS total FROM h)
      |SELECT digit, n, CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
      |  CAST(CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
      |       WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946 WHEN 7 THEN 57991
      |       WHEN 8 THEN 51152 ELSE 45757 END AS BIGINT) AS benford_ppm,
      |  CAST(abs(n * 1000000 // total -
      |       CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
      |       WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946 WHEN 7 THEN 57991
      |       WHEN 8 THEN 51152 ELSE 45757 END) AS BIGINT) AS dev_ppm
      |FROM h, t""".stripMargin,
  ) { (s, d) =>
    // floor(1e6·log10(1+1/d)) — computed once here, never a float at
    // query time; the oracle hardcodes the same nine constants
    val benford = map(
      (1 to 9).flatMap(dg =>
        Seq(lit(dg.toLong), lit(math.floor(1e6 * math.log10(1.0 + 1.0 / dg)).toLong))
      ): _*
    )
    // cents >= 1, not price > 0: a price in (0, 0.005) rounds to cents
    // 0, whose "first digit" 0 has no Benford expectation — the map
    // lookup would NULL where the oracle's CASE ELSE would not
    val h = orders(s, d)
      .filter(expr("round(o_totalprice * 100) >= 1"))
      .select(
        substring(expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"), 1, 1)
          .cast("long").as("digit")
      )
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
    h.crossJoin(broadcast(h.agg(sum(col("n")).as("total"))))
      .withColumn("share_ppm", expr("(n * 1000000L) div total"))
      .withColumn("benford_ppm", element_at(benford, col("digit")))
      .withColumn("dev_ppm", abs(col("share_ppm") - col("benford_ppm")))
      .select("digit", "n", "share_ppm", "benford_ppm", "dev_ppm")
  }

  /** One FK edge of the [[fkAuditQ]] oracle: left join the child's key
    * column against the parent's distinct keys, aggregate to a 1-row
    * report — the SQL mirror of [[graft.ops.Profile.fkAudit]]'s
    * per-edge plan. */
  private def fkEdgeSql(
      name: String,
      childTable: String,
      childKey: String,
      parentTable: String,
      parentKey: String,
  ): String =
    s"""SELECT '$name' AS fk, count(*) AS child_rows,
       |  count(*) - count(k) AS null_keys,
       |  CAST(coalesce(sum(CASE WHEN k IS NOT NULL AND pk IS NULL THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS orphan_rows,
       |  count(DISTINCT CASE WHEN pk IS NULL THEN k END) AS orphan_keys
       |FROM (SELECT $childKey AS k FROM $childTable) c
       |LEFT JOIN (SELECT DISTINCT $parentKey AS pk FROM $parentTable) p ON c.k = p.pk""".stripMargin

  private val fkEdges = Seq(
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
  )

  /** Referential-integrity audit ([[graft.ops.Profile.fkAudit]]) over
    * every declared FK edge of the warehouse schema plus the
    * events→customer soft reference: per edge, null-key and orphan
    * counts. Generated data is clean, so the expected report is
    * all-zero orphans — which the oracle CHECKS rather than assumes
    * (a loader regression that orphaned keys would flip the row); the
    * orphan-counting path itself is behavior-tested on synthetic
    * orphans in OpsSpec. */
  private val fkAuditQ = Q(
    "misc_fk_audit",
    fkEdges.map((fkEdgeSql _).tupled).mkString("", "\nUNION ALL\n", ""),
  ) { (s, d) =>
    def t(n: String) = n match {
      case "events" => events(s, d)
      case other    => graft.Tables.table(s, d, other)
    }
    graft.ops.Profile.fkAudit(
      fkEdges.map { case (name, ct, ck, pt, pk) => (name, t(ct), ck, t(pt), pk) }
    )
  }

  /** Market-basket association mining ([[graft.ops.Basket.frequentPairs]])
    * over orders-as-baskets of parts: pair support, directional
    * confidence, and lift, all integer/ppm — capped at 6 distinct parts
    * per order (the cap BINDS on TPC-H's 7-line orders, so the
    * heavy-basket drop path is differentially checked, not decorative). */
  private val assocRulesQ = Q(
    "misc_assoc_rules",
    """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= 6),
      |cap AS (SELECT bi.b, bi.i FROM bi JOIN ok ON ok.b = bi.b),
      |n AS (SELECT count(DISTINCT b) AS nb FROM cap),
      |ic AS (SELECT i, count(*) AS c FROM cap GROUP BY 1),
      |pc AS (SELECT x.i AS p1, y.i AS p2, count(*) AS pair_cnt
      |       FROM cap x JOIN cap y ON x.b = y.b AND x.i < y.i
      |       GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p1, p2, pair_cnt, c1.c AS c1, c2.c AS c2,
      |  (pair_cnt * 1000000) // c1.c AS conf1_ppm,
      |  (pair_cnt * 1000000) // c2.c AS conf2_ppm,
      |  CAST((CAST(pair_cnt AS HUGEINT) * nb * 1000000)
      |    // (CAST(c1.c AS HUGEINT) * c2.c) AS BIGINT) AS lift_ppm
      |FROM pc JOIN ic c1 ON c1.i = p1 JOIN ic c2 ON c2.i = p2 CROSS JOIN n""".stripMargin,
  ) { (s, d) =>
    graft.ops.Basket.frequentPairs(
      lineitem(s, d).select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      minSupport = 2,
      maxBasketSize = 6,
    )
  }

  /** Key-skew report ([[graft.ops.Stats.skewReport]]): the 10 heaviest
    * order keys in lineitem with exact corpus shares in ppm — the
    * measurement behind every salting/banding decision in the repo,
    * exposed as its own operator. TakeOrdered top-k, never a global
    * sort; the rank window touches k rows only. */
  private val skewReportQ = Q(
    "misc_skew_report",
    """WITH c AS (SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys,
      |             max(cnt) AS max_cnt FROM c),
      |top AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rank
      |        FROM c ORDER BY cnt DESC, key LIMIT 10)
      |SELECT rank, key, cnt, (cnt * 1000000) // total AS share_ppm,
      |       total, n_keys, max_cnt
      |FROM top CROSS JOIN t""".stripMargin,
  ) { (s, d) =>
    graft.ops.Stats.skewReport(lineitem(s, d), "l_orderkey", topK = 10)
  }

  /** Bounded-depth multi-source BFS ([[graft.ops.Graph.bfsHops]]) over
    * the capped co-purchase graph: seeds are the customers whose key is
    * ≡ 0 (mod 97), expanded 3 hops — the "within N degrees of a seed
    * set" reachability query (fraud rings, influence audiences, seed
    * expansion). First-discovery hop IS the BFS distance, so the output
    * is deterministic integers; the oracle replays it as a recursive
    * CTE (`UNION` dedups (node, d) pairs per level, so the working set
    * is ≤ |V|·hops, never path-enumerating) reduced by `min(d)`. */
  private val bfsKhopQ = Q(
    "misc_bfs_khop",
    """WITH RECURSIVE
      |pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |e AS (
      |  SELECT DISTINCT x.ck AS a, y.ck AS b
      |  FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |  JOIN ok ON ok.pk = x.pk),
      |sym AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e),
      |walk(node, d) AS (
      |  SELECT DISTINCT s, 0 FROM sym WHERE s % 97 = 0
      |  UNION
      |  SELECT sym.t, w.d + 1 FROM walk w JOIN sym ON sym.s = w.node WHERE w.d < 3)
      |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node""".stripMargin,
  ) { (s, d) =>
    // coPurchaseEdges is already persisted (shared_build) — a further
    // localCheckpoint would re-materialize the same blocks
    val edges = coPurchaseEdges(s, d)
    // Seeds drawn from edge SOURCES only (every node appears as a
    // source in the symmetric list, so this is all graph nodes).
    val sources = edges
      .select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .where(col("node") % 97 === 0)
      .distinct()
    graft.ops.Graph.bfsHops(edges, sources, maxHops = 3)
  }

  /** Double-sweep diameter lower bound over the co-purchase graph
    * ([[graft.ops.Graph.diameterSweep]]): BFS from the min-id node,
    * BFS again from the farthest node found — the second eccentricity
    * bounds the diameter from below, at two sweeps instead of
    * all-pairs. Hop budget 4; ties break to the min node id, so the
    * whole artifact is deterministic and the oracle replays both
    * sweeps as recursive walks. */
  private val diameterSweepQ = Q(
    "misc_diameter_sweep",
    """WITH RECURSIVE
      |pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |e AS (
      |  SELECT DISTINCT x.ck AS a, y.ck AS b
      |  FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |  JOIN ok ON ok.pk = x.pk),
      |sym AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e),
      |w1(node, d) AS (
      |  SELECT (SELECT min(s) FROM sym), 0
      |  UNION
      |  SELECT sym.t, w.d + 1 FROM w1 w JOIN sym ON sym.s = w.node WHERE w.d < 4),
      |d1 AS (SELECT node, min(d) AS d FROM w1 GROUP BY 1),
      |u AS (SELECT node, d FROM d1 ORDER BY d DESC, node LIMIT 1),
      |w2(node, d) AS (
      |  SELECT node, 0 FROM u
      |  UNION
      |  SELECT sym.t, w.d + 1 FROM w2 w JOIN sym ON sym.s = w.node WHERE w.d < 4),
      |d2 AS (SELECT node, min(d) AS d FROM w2 GROUP BY 1),
      |v AS (SELECT node, d FROM d2 ORDER BY d DESC, node LIMIT 1)
      |SELECT CAST((SELECT min(s) FROM sym) AS BIGINT) AS seed,
      |  CAST(u.node AS BIGINT) AS peripheral, CAST(u.d AS BIGINT) AS ecc_seed,
      |  CAST(v.node AS BIGINT) AS far_node, CAST(v.d AS BIGINT) AS diameter_lb
      |FROM u, v""".stripMargin,
  ) { (s, d) =>
    graft.ops.Graph.diameterSweep(coPurchaseEdges(s, d), maxHops = 4)
  }

  /** Bounded-round weighted shortest paths
    * ([[graft.ops.Graph.ssspBounded]] — distributed Bellman-Ford on
    * the (min, +) semiring) over the co-purchase graph with distance
    * 10⁶ div shared-part-count (stronger ties are closer): min cost
    * within ≤ 3 edges from the mod-97 seed set. The oracle unrolls the
    * three relaxation rounds as CTEs — round r's table is a
    * deterministic function of round r−1's, so the replay is exact. */
  private val ssspBoundedQ = Q(
    "misc_sssp_bounded",
    """WITH pc AS (
      |  SELECT DISTINCT l_partkey AS pk, o_custkey AS ck
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |ok AS (SELECT pk FROM pc GROUP BY pk HAVING count(*) <= 20),
      |wp AS (SELECT x.ck AS a, y.ck AS b, count(*) AS cnt
      |       FROM pc x JOIN pc y ON x.pk = y.pk AND x.ck < y.ck
      |       JOIN ok ON ok.pk = x.pk GROUP BY 1, 2),
      |e AS (SELECT a AS s, b AS t, 1000000 // cnt AS w FROM wp
      |      UNION ALL SELECT b, a, 1000000 // cnt FROM wp),
      |d0 AS (SELECT DISTINCT s AS node, 0 AS dist FROM e WHERE s % 97 = 0),
      |d1 AS (SELECT node, min(dist) AS dist FROM (
      |        SELECT e.t AS node, d.dist + e.w AS dist FROM d0 d JOIN e ON e.s = d.node
      |        UNION ALL SELECT node, dist FROM d0) GROUP BY 1),
      |d2 AS (SELECT node, min(dist) AS dist FROM (
      |        SELECT e.t AS node, d.dist + e.w AS dist FROM d1 d JOIN e ON e.s = d.node
      |        UNION ALL SELECT node, dist FROM d1) GROUP BY 1),
      |d3 AS (SELECT node, min(dist) AS dist FROM (
      |        SELECT e.t AS node, d.dist + e.w AS dist FROM d2 d JOIN e ON e.s = d.node
      |        UNION ALL SELECT node, dist FROM d2) GROUP BY 1)
      |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin,
  ) { (s, d) =>
    val wp = coPurchaseWeighted(s, d)
    val w  = expr("1000000 div cnt").as("w")
    val sym = wp
      .select(col("a").as("src"), col("b").as("dst"), w)
      .unionAll(wp.select(col("b").as("src"), col("a").as("dst"), w))
      .localCheckpoint(eager = false)
    val sources = sym.select(col("src").as("node")).where(col("node") % 97 === 0).distinct()
    graft.ops.Graph.ssspBounded(sym, sources, rounds = 3)
  }

  /** KMV bottom-k overlap sketch ([[graft.ops.Kmv]]): the customer
    * DIMENSION vs the customers actually placing orders, compared
    * entirely through two 256-hash sketches — distinct counts per side,
    * union, Jaccard, intersection, all from one row of arithmetic. The
    * oracle replays sketch construction (DISTINCT → ORDER BY hash →
    * LIMIT k), the union re-cut, and every estimator division
    * bit-for-bit — md5 hashing upgrades the ±1/√k sketch bound to an
    * exact-equality differential. */
  private val kmvOverlapQ = Q(
    "misc_kmv_overlap",
    """WITH ha AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5(coalesce(CAST(c_custkey AS VARCHAR), '')),
      |    1, 12)) AS BIGINT) AS h FROM customer),
      |hb AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5(coalesce(CAST(o_custkey AS VARCHAR), '')),
      |    1, 12)) AS BIGINT) AS h FROM orders),
      |ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
      |kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
      |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u ORDER BY h LIMIT 256),
      |sa AS (SELECT count(*) AS n, max(h) AS hk FROM ka),
      |sb AS (SELECT count(*) AS n, max(h) AS hk FROM kb),
      |su AS (SELECT count(*) AS n, max(h) AS hk FROM ku),
      |m AS (
      |  SELECT count(*) AS c FROM ku
      |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
      |SELECT
      |  CASE WHEN sa.n < 256 THEN sa.n ELSE (255 * 281474976710656) // sa.hk END AS est_a,
      |  CASE WHEN sb.n < 256 THEN sb.n ELSE (255 * 281474976710656) // sb.hk END AS est_b,
      |  CASE WHEN su.n < 256 THEN su.n ELSE (255 * 281474976710656) // su.hk END AS est_union,
      |  m.c AS inter_in_k,
      |  CASE WHEN su.n = 0 THEN 0 ELSE (m.c * 1000000) // su.n END AS jaccard_ppm,
      |  CASE WHEN su.n = 0 THEN 0 ELSE (m.c *
      |    (CASE WHEN su.n < 256 THEN su.n
      |          ELSE (255 * 281474976710656) // su.hk END)) // su.n END AS est_intersection
      |FROM sa, sb, su, m""".stripMargin,
  ) { (s, d) =>
    graft.ops.Kmv.overlap(
      customer(s, d).select(col("c_custkey").as("k")),
      orders(s, d).select(col("o_custkey").as("k")),
      "k",
      256,
    )
  }

  /** Group-disjoint train/val/test split
    * ([[graft.ops.Sampling.groupDisjointSplit]]) over `documents`
    * grouped by `source`, summarized per split WITH the leakage audit
    * a training pipeline must assert: `leak_groups` counts groups
    * appearing in more than one split — structurally 0 here (the
    * split is a pure function of the group key), and the oracle
    * recomputes it from scratch rather than trusting the
    * construction. */
  private val splitGroupDisjoint = Q(
    "misc_split_group_disjoint",
    """WITH a AS (
      |  SELECT source,
      |    CASE WHEN ppm < 100000 THEN 'test'
      |         WHEN ppm < 200000 THEN 'val'
      |         ELSE 'train' END AS split
      |  FROM (SELECT source,
      |    (CAST(('0x' || substr(md5(coalesce(CAST(source AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |      * 1000000) // 16777216 AS ppm
      |    FROM documents)),
      |per AS (
      |  SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_groups
      |  FROM a GROUP BY split),
      |leak AS (
      |  SELECT COUNT(*) AS leak_groups FROM (
      |    SELECT source FROM a GROUP BY source HAVING COUNT(DISTINCT split) > 1))
      |SELECT per.split, per.n_docs, per.n_groups, leak.leak_groups
      |FROM per CROSS JOIN leak""".stripMargin,
  ) { (s, d) =>
    val split = graft.ops.Sampling.groupDisjointSplit(
      graft.Tables.documents(s, d), "source", testPpm = 100000L, valPpm = 100000L)
    val per = split
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_groups"))
    val leak = split
      .groupBy("source")
      .agg(countDistinct(col("split")).as("__ns"))
      .filter(col("__ns") > 1)
      .agg(count(lit(1)).as("leak_groups"))
    per.crossJoin(broadcast(leak))
  }

  /** Purged K-fold temporal CV split
    * ([[graft.ops.Sampling.purgedFolds]], López de Prado's
    * purged/embargoed CV): 5 equal-duration test windows over the
    * events span with a 12-hour embargo stripped from each fold's
    * training set — the leakage control group-disjoint splitting
    * cannot give when the leak channel is TIME adjacency, not key
    * identity. Integer-microsecond boundary arithmetic, so fold
    * membership replays exactly. */
  private val purgedFoldsQ = Q(
    "misc_purged_folds",
    """WITH u AS (SELECT epoch_us(ts) AS t FROM events WHERE ts IS NOT NULL),
      |span AS (SELECT min(t) AS t0, max(t) + 1 AS t1 FROM u),
      |fb AS (SELECT fold, t0 + (fold * (t1 - t0)) // 5 AS test_start,
      |         t0 + ((fold + 1) * (t1 - t0)) // 5 AS test_end
      |       FROM (SELECT unnest(generate_series(0, 4)) AS fold) CROSS JOIN span),
      |cl AS (SELECT fb.fold, fb.test_start, fb.test_end,
      |         CASE WHEN u.t >= fb.test_start AND u.t < fb.test_end THEN 'test'
      |              WHEN u.t < fb.test_start - 43200000000
      |                OR u.t >= fb.test_end + 43200000000 THEN 'train'
      |              ELSE 'purged' END AS role
      |       FROM u CROSS JOIN fb)
      |SELECT fold, test_start, test_end,
      |  CAST(sum(CASE WHEN role = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN role = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |  CAST(sum(CASE WHEN role = 'purged' THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
      |FROM cl GROUP BY 1, 2, 3""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling.purgedFolds(events(s, d), "ts", folds = 5, embargoHours = 12)
  }

  /** Epoch-repeat corpus expansion ([[graft.ops.Sampling.epochExpand]]):
    * the over-sampling half of a training mix — src0 targeted above its
    * row count (repeat copies + a hash-selected fraction), src1 at
    * parity, src2 subsampled, everything else untouched. The gate
    * aggregates the EXPANDED corpus per (source, epoch), so the oracle
    * replays the whole expansion, not just the plan. */
  private val sampleEpochs = Q(
    "misc_sample_epochs",
    """WITH n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      |b AS (SELECT source, n,
      |        CASE source WHEN 'src0' THEN 60 WHEN 'src1' THEN 25 WHEN 'src2' THEN 10
      |             ELSE NULL END AS b
      |      FROM n),
      |plan AS (SELECT source,
      |           CASE WHEN b IS NULL THEN 1 ELSE b // n END AS rep,
      |           CASE WHEN b IS NULL THEN 0 ELSE ((b % n) * 1000000) // n END AS ppm
      |         FROM b),
      |rows0 AS (
      |  SELECT d.doc_id, d.source,
      |    p.rep + (CASE WHEN (CAST(('0x' || substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 6)) AS BIGINT)
      |                        * 1000000) // 16777216 < p.ppm THEN 1 ELSE 0 END) AS ne
      |  FROM documents d JOIN plan p USING (source)),
      |expd AS (SELECT doc_id, source, unnest(generate_series(1, ne)) AS epoch
      |         FROM rows0 WHERE ne >= 1)
      |SELECT source, epoch, COUNT(*) AS n_rows FROM expd GROUP BY 1, 2""".stripMargin,
  ) { (s, d) =>
    graft.ops.Sampling
      .epochExpand(
        graft.Tables.documents(s, d),
        keyCol = "doc_id",
        strataCol = "source",
        budgets = Map("src0" -> 60L, "src1" -> 25L, "src2" -> 10L),
      )
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** k-anonymity audit ([[graft.ops.Profile.kAnonymity]]) over the
    * customer quasi-identifiers (nation, market segment) at k = 10:
    * the privacy census (violating classes, rows at risk, the actual
    * anonymity level) a dataset release gate reads. All counts exact;
    * the oracle recomputes the equivalence classes from scratch. */
  private val kAnonymityQ = Q(
    "misc_k_anonymity",
    """SELECT 10 AS k,
      |  COUNT(*) AS n_classes,
      |  CAST(COALESCE(SUM(CASE WHEN sz < 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS violating_classes,
      |  CAST(COALESCE(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END), 0) AS BIGINT) AS rows_at_risk,
      |  MIN(sz) AS anonymity_level,
      |  CAST(COALESCE(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS singletons
      |FROM (SELECT COUNT(*) AS sz FROM customer GROUP BY c_nationkey, c_mktsegment)""".stripMargin,
  ) { (s, d) =>
    graft.ops.Profile.kAnonymity(
      graft.Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"), k = 10L)
  }

  val all: Seq[Q] =
    Seq(approxDistinct, sample, floatDotSql, hllSketchUnion, sampleHash, sequenceExplode,
      jsonRoundtrip, sampleStratified, sampleReservoir, sampleBudgetMix, shardStats,
      pagerankTrade, pprTrade, pagerankWeighted, approxPercentile, zorderKeyQ, sampleTemperature,
      cmsHeavyHitters, cmsAuto, cmsJoinSize, weightedQuantilesQ, chi2Q, bloomMembership, fdCheckQ,
      triangleCensus, clusteringCoeff, profileColumns, profileApproxQ,
      compactionBinsQ, winsorizeQ, corrStatsQ, quantileNormalizeQ, equiDepthQ, distDriftQ,
      corrPairwiseQ, driftBySegmentQ, quantileNormalizeByQ, madOutliersQ, kmvOverlapQ, kcoreQ,
      labelPropQ, bfsKhopQ, assocRulesQ, ssspBoundedQ, fkAuditQ, skewReportQ, splitGroupDisjoint,
      kAnonymityQ, sampleEpochs, linkPredictQ, purgedFoldsQ, markovSteadyQ, benfordQ,
      samplePps, hitsTrade, ksQ, mannWhitneyQ, spearmanQ, cramersVQ, diameterSweepQ,
      hilbertKeyQ, bootstrapCiQ, bootstrapCiXxQ, rfmScoresQ, quantileScoresQ, conformalQ,
      conformalByQ, isotonicQ, isotonicByQ, stumpGiniQ, kllQuantilesQ, kllSplitsQ, kllMergeQ, kllWeightedQ, kllBinningQ, kllWeightedSplitsQ, kllWeightedBinningQ)
}
