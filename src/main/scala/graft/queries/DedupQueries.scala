package graft.queries

import graft.Tables._
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operator queries (SURVEY.md §2.10): exact hash groups,
  * n-gram Jaccard pairs, MinHash+LSH near-dup detection, SimHash.
  * Implementations in [[graft.ops.Dedup]]; every oracle mirrors the
  * dataflow step by step (same md5-based hashes, so signatures are
  * byte-identical across engines).
  */
object DedupQueries {

  private val pairConsumers = Set(
    "ddp_jaccard_pairs", "ddp_jaccard_components", "ddp_dedup_keep",
    "ddp_dedup_keep_best", "ddp_component_split", "ddp_lsh_recall_eval",
    "ddp_lsh_banding_sweep",
  )

  /** The distinct shingle table is the shared input of every fuzzy-dedup
    * operator; building it (tokenize + higher-order shingling) dominates
    * its consumers, so it is materialized once per (session, scale)
    * and reused — the local analog of writing the shingle table once
    * before running a dedup suite over a 100 TB corpus. */
  private val sharedShingles = Shared("dedup_shingles", pairConsumers ++ Set(
    "ddp_jaccard_pairs_prefix", "ddp_jaccard_pairs_auto", "ddp_minhash_lsh_pairs",
    "ddp_simhash_sigs", "ddp_simhash_pairs", "ddp_simhash64_pairs",
    "ddp_simhash64_md5_pairs", "ddp_chunk_dedup",
  )) { (s, d) =>
    Dedup
      .shingleSets(documents(s, d), "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Verified Jaccard pairs (τ = 0.5) are likewise consumed twice (pair
    * listing + clustering) — materialized once. */
  private val sharedJaccardPairs = Shared("jaccard_pairs", pairConsumers) { (s, d) =>
    Dedup
      .jaccardPairs(sharedShingles(s, d), 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The MinHash(n=3, k=16) md5 signature table is re-derived by FOUR
    * gates (pairs, weighted, recall eval, banding sweep) — and inside
    * each gate the candidate SELF-join evaluates its input subtree
    * twice, so the un-shared form paid the corpus hash pass up to 12×
    * in one plan (the banding sweep: 3 configs × 2 join sides × 2
    * metric branches). Materialized once per (session, scale), the
    * production analog of writing the signature table beside the
    * shingle table (r16 optimization round; guide §2.4 — remove
    * recomputation, share one pass). */
  private val sharedMinhashSigs = Shared("minhash_sigs", Set(
    "ddp_minhash_lsh_pairs", "ddp_weighted_jaccard", "ddp_lsh_recall_eval",
    "ddp_lsh_banding_sweep",
  )) { (s, d) =>
    Dedup
      .minhashSignaturesNative(documents(s, d), "doc_id", "text", n = 3, k = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The verified embedding near-dup pair table (auto-banded SRP
    * candidates, exact cosine ≥ 0.45) is the common input of the
    * whole semantic-graph family — the pairs gate itself, SemDeDup's
    * keep-best, the k-NN graph, mutual-kNN clusters, and the cohesion
    * report each re-derived the SRP keys + collision join + cosine
    * verify (≥ 1 s apiece at sf0.1). Materialized once per (session,
    * scale): the production analog of the near-dup pair table a
    * curation pipeline writes before its graph consumers (r16
    * optimization round, guide §2.4). */
  private val sharedEmbPairs = Shared("emb_pairs", Set(
    "ddp_embedding_pairs_auto", "ddp_semdedup_best", "sim_knn_graph_auto",
    "sim_knn_mutual_clusters", "sim_cluster_cohesion",
  )) { (s, d) =>
    graft.ops.Similarity
      .embeddingDupPairsAuto(embeddings(s, d), idCol = "vec_id", embCol = "embedding",
        tau = 0.45)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def erEntities(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey").as("id"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("name"),
    )

  private def erBlocked(df: DataFrame): DataFrame = df.withColumn(
    "block",
    concat_ws(" ", expr("slice(split(name, ' '), 3, greatest(size(split(name, ' ')) - 2, 0))")),
  )

  /** The blocked Jaccard best-match table (perturb → block →
    * [[graft.ops.Blocking.matchBest]] at 0.4 Jaccard) is read by BOTH
    * the entity-match gate and the linkage-quality report —
    * materialized once, the production analog of an ER pipeline
    * writing its match table once and every report reading it. */
  private val sharedErMatch = Shared("er_match", Set("ddp_entity_match", "ddp_linkage_report")) {
    (s, d) =>
      val ent = erEntities(s, d)
      graft.ops.Blocking
        .matchBest(
          erBlocked(graft.ops.Blocking.perturbNames(ent, "id", "name")),
          erBlocked(ent),
          minSimPpm = 400000L,
        )
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** This suite's shared artifacts, in prewarm order. */
  private[graft] def artifacts: Seq[Shared[_]] = Seq(
    sharedShingles, sharedJaccardPairs, sharedSurvivors, sharedErMatch, sharedMinhashSigs,
    sharedEmbPairs,
  )

  def prewarmShared(
      s: SparkSession,
      d: String,
      selected: Option[Set[String]] = None,
  ): Seq[(String, Double)] = Shared.prewarm(artifacts, s, d, selected)

  /** Shared oracle CTEs: distinct 3-gram shingle sets + set sizes. */
  private val shingCte =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |shing AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id)""".stripMargin

  /** Exact dedup over a corpus with planted duplicates (the table
    * unioned with itself — the synthetic corpus has no exact dups). */
  private val exactGroups = Q(
    "ddp_exact_groups",
    """SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      |GROUP BY 1""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    Dedup.exactGroups(docs.unionAll(docs), "doc_id", "text")
  }

  /** Frequency-capped dedup ([[graft.ops.Dedup.dedupCapCopies]]): the
    * corpus doubled plus a tripled 1-in-5 slice gives groups of 2 and
    * 3 copies; capping at 2 must drop exactly the third copies. Rank
    * ties only occur between bit-identical rows, so the kept multiset
    * is deterministic. */
  private val dedupCapped = Q(
    "ddp_dedup_capped",
    """SELECT doc_id, copy_rank FROM (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY md5(trim(regexp_replace(text, '\s+', ' ', 'g')))
      |      ORDER BY doc_id) AS copy_rank
      |  FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents
      |        UNION ALL SELECT * FROM documents WHERE doc_id % 5 = 0))
      |WHERE copy_rank <= 2""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    Dedup
      .dedupCapCopies(
        docs.unionAll(docs).unionAll(docs.filter(col("doc_id") % 5 === 0)),
        "doc_id", "text", maxCopies = 2)
      .select("doc_id", "copy_rank")
  }

  /** Incremental cross-run dedup ([[graft.ops.Dedup.dedupIncremental]]):
    * the 1-in-3 slice plays the previously-ingested index, the full
    * corpus plus a doubled 1-in-7 slice plays the incoming batch —
    * survivors are the batch's new fingerprints, once each. */
  private val dedupIncremental = Q(
    "ddp_dedup_incremental",
    """WITH idx AS (
      |  SELECT DISTINCT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 3 = 0),
      |batch AS (SELECT * FROM documents
      |          UNION ALL SELECT * FROM documents WHERE doc_id % 7 = 0),
      |keep AS (
      |  SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
      |    min(doc_id) AS doc_id
      |  FROM batch GROUP BY 1)
      |SELECT doc_id, fp FROM keep k
      |WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = k.fp)""".stripMargin,
  ) { (s, d) =>
    val docs  = documents(s, d)
    val index = Dedup.fingerprintIndex(docs.filter(col("doc_id") % 3 === 0), "text")
    Dedup.dedupIncremental(
      docs.unionAll(docs.filter(col("doc_id") % 7 === 0)),
      "doc_id", "text", index)
  }

  /** Chunk-level exact dedup ([[graft.ops.Dedup.chunkDedup]], the
    * ExactSubstr family): the corpus unioned with shifted copies — each
    * copy drops its source's first 10 tokens (exactly one chunk, so
    * chunk boundaries stay aligned) and appends a unique tail token.
    * Every full chunk of a copy duplicates a chunk of its source and
    * must be removed; the tail chunk is unique and must survive —
    * span-level removal with document retention, which document-level
    * dedup cannot express. */
  private val chunkDedupQ = Q(
    "ddp_chunk_dedup",
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |    coalesce(array_to_string(regexp_extract_all(text, '\w+')[11:], ' '), '')
      |      || ' tail' || CAST(doc_id + 100000 AS VARCHAR) AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS t FROM base),
      |chunks AS (
      |  SELECT doc_id,
      |    unnest(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT))) - 1 AS chunk_idx,
      |    unnest(list_transform(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT)),
      |           i -> array_to_string(t[((i-1)*10+1):(i*10)], ' '))) AS chunk
      |  FROM toks),
      |ranked AS (
      |  SELECT doc_id, chunk_idx, chunk,
      |    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |  FROM chunks),
      |agg AS (
      |  SELECT doc_id,
      |    coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS text,
      |    count(*) AS n_chunks,
      |    CAST(coalesce(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept
      |  FROM ranked GROUP BY doc_id)
      |-- LEFT JOIN from base: a zero-token document yields no chunk rows
      |-- (generate_series is empty) but the operator's contract keeps the
      |-- document row itself (text '', n_chunks 0), so the oracle must too
      |SELECT b.doc_id, coalesce(agg.text, '') AS text,
      |  CAST(coalesce(agg.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
      |FROM (SELECT doc_id FROM base) b LEFT JOIN agg USING (doc_id)""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d).select("doc_id", "text")
    val toks = graft.ops.Text.tokens(col("text"))
    val copies = docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(
        array_join(slice(toks, lit(11), greatest(size(toks) - 10, lit(0))), " "),
        lit(" tail"),
        (col("doc_id") + 100000).cast("string"),
      ).as("text"),
    )
    Dedup.chunkDedup(docs.unionAll(copies), "doc_id", "text", chunkTokens = 10)
  }

  /** Shared oracle body for the exact Jaccard-pairs operators: the
    * naive, prefix-filtered, and auto-selected forms are result-
    * identical by construction, so one SQL checks all three. */
  private val jaccardPairsSql =
    s"""$shingCte,
       |common AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
       |FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5""".stripMargin

  /** Brute-force n-gram Jaccard near-dup pairs (τ = 0.5): the exactness
    * baseline that LSH is checked against. */
  private val jaccardPairs = Q("ddp_jaccard_pairs", jaccardPairsSql) { (s, d) =>
    sharedJaccardPairs(s, d)
  }

  /** Prefix-filtered (AllPairs/PPJoin) exact Jaccard pairs in the gate:
    * same oracle as the naive join — the candidate pruning must be
    * invisible in the result. */
  private val jaccardPairsPrefix = Q("ddp_jaccard_pairs_prefix", jaccardPairsSql) { (s, d) =>
    Dedup.jaccardPairsPrefix(sharedShingles(s, d), 0.5)
  }

  /** Skew-probe auto-selection in the gate: whichever branch the probe
    * picks must still match the relational oracle exactly. */
  private val jaccardPairsAuto = Q("ddp_jaccard_pairs_auto", jaccardPairsSql) { (s, d) =>
    Dedup.jaccardPairsAuto(sharedShingles(s, d), 0.5)
  }

  /** MinHash(k=16) + LSH(4 bands × 4 rows) candidates, verified with
    * true Jaccard (τ = 0.5). Only band-colliding docs are ever paired. */
  private val minhashLsh = Q(
    "ddp_minhash_lsh_pairs",
    s"""$shingCte,
       |mh AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
       |  GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, seed // 4 AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS band_hash
       |  FROM mh GROUP BY doc_id, seed // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |common AS (
       |  SELECT a_id, b_id, count(*) AS c
       |  FROM cand JOIN shing sa ON sa.doc_id = a_id
       |       JOIN shing sb ON sb.doc_id = b_id AND sa.sh = sb.sh
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
       |FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5""".stripMargin,
  ) { (s, d) =>
    // Native one-pass signature stage (bit-equal to the relational
    // pipeline, FunctionsSpec), read from the shared signature table;
    // the shared shingle table still feeds the candidate-proportional
    // exact verify.
    Dedup.minhashLshPairsFromSigs(
      sharedMinhashSigs(s, d),
      sharedShingles(s, d),
      rowsPerBand = 4,
      minJaccard = 0.5,
    )
  }

  /** Weighted (multiset) Jaccard over token histograms for the same
    * MinHash-LSH candidates ([[graft.ops.Dedup.weightedJaccardPairsFromSigs]]):
    * the repeat-sensitive near-dup verify — Σmin/Σmax over token
    * COUNTS, integer-exact, candidate-proportional. τ = 0.30. */
  private val weightedJaccard = Q(
    "ddp_weighted_jaccard",
    s"""$shingCte,
       |mh AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
       |  GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, seed // 4 AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS band_hash
       |  FROM mh GROUP BY doc_id, seed // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |tokc AS (
       |  SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\w+')) AS t FROM documents)
       |  GROUP BY 1, 2),
       |tots AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS s FROM tokc GROUP BY 1),
       |ms AS (
       |  SELECT a_id, b_id, CAST(sum(least(ta.c, tb.c)) AS BIGINT) AS m
       |  FROM cand JOIN tokc ta ON ta.doc_id = a_id
       |       JOIN tokc tb ON tb.doc_id = b_id AND tb.t = ta.t
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  CAST(coalesce(ms.m, 0) AS BIGINT) AS inter,
       |  CAST(sa.s + sb.s - coalesce(ms.m, 0) AS BIGINT) AS uni,
       |  CAST(coalesce(ms.m, 0) * 1000000 // (sa.s + sb.s - coalesce(ms.m, 0)) AS BIGINT) AS wj_ppm
       |FROM cand LEFT JOIN ms USING (a_id, b_id)
       |     JOIN tots sa ON sa.doc_id = a_id JOIN tots sb ON sb.doc_id = b_id
       |WHERE coalesce(ms.m, 0) * 1000000 // (sa.s + sb.s - coalesce(ms.m, 0)) >= 300000""".stripMargin,
  ) { (s, d) =>
    Dedup.weightedJaccardPairsFromSigs(
      documents(s, d),
      "doc_id",
      "text",
      sharedMinhashSigs(s, d),
      rowsPerBand = 4,
      tauPpm = 300000L,
    )
  }

  /** LSH banding recall/precision eval — the dedup twin of
    * `sim_ann_recall_eval`: how much of the exact-Jaccard truth set
    * (τ = 0.5, the `ddp_jaccard_pairs` chain) does the 4×4 MinHash
    * banding actually SURFACE as candidates, and how much candidate
    * volume is wasted? This is the tuning artifact that justifies a
    * banding config before a corpus run (the s-curve says ~23% collide
    * at exactly τ, rising steeply toward 1 for true near-dups — the
    * gate measures it instead of trusting the formula). Both chains
    * are already oracle-proven; this replays their composition and the
    * metric arithmetic (integer ppm, NULL when a denominator is 0). */
  private val lshRecallEval = Q(
    "ddp_lsh_recall_eval",
    s"""$shingCte,
       |mh AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
       |  GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, seed // 4 AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS band_hash
       |  FROM mh GROUP BY doc_id, seed // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |common AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT a_id, b_id
       |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
       |m AS (
       |  SELECT (SELECT count(*) FROM truth) AS n_truth,
       |         (SELECT count(*) FROM cand) AS n_candidates,
       |         (SELECT count(*) FROM truth t JOIN cand c
       |            ON c.a_id = t.a_id AND c.b_id = t.b_id) AS n_hit)
       |SELECT n_truth, n_candidates, n_hit,
       |  CASE WHEN n_truth = 0 THEN NULL
       |       ELSE (n_hit * 1000000) // n_truth END AS recall_ppm,
       |  CASE WHEN n_candidates = 0 THEN NULL
       |       ELSE (n_hit * 1000000) // n_candidates END AS precision_ppm
       |FROM m""".stripMargin,
  ) { (s, d) =>
    val truth = sharedJaccardPairs(s, d).select("a_id", "b_id")
    val cands = Dedup.lshCandidates(
      Dedup.lshBands(sharedMinhashSigs(s, d), rowsPerBand = 4)
    )
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCand  = cands.agg(count(lit(1)).as("n_candidates"))
    val nHit = truth
      .join(cands, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nTruth
      .crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nHit))
      .select(
        col("n_truth"),
        col("n_candidates"),
        col("n_hit"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(expr("(n_hit * 1000000L) div n_truth"))
          .as("recall_ppm"),
        when(col("n_candidates") === 0, lit(null))
          .otherwise(expr("(n_hit * 1000000L) div n_candidates"))
          .as("precision_ppm"),
      )
  }

  /** Banding-parameter sweep — [[lshRecallEval]] fanned across the
    * three partitions of the same 16 MinHashes (8×2, 4×4, 2×8 bands ×
    * rows): one recall/precision row per config, the s-curve measured
    * end to end instead of trusted. This is the artifact the
    * `chooseBanding` ladder's pick is justified against: more, shorter
    * bands buy recall with candidate volume; fewer, longer bands the
    * reverse. Signatures are computed once (map-only native
    * expression) and re-grouped per config — the sweep costs one
    * signature pass plus three candidate joins, never three full
    * rebuilds. */
  private val lshBandingSweep = Q(
    "ddp_lsh_banding_sweep", {
      def cfg(rpb: Int): String =
        s"""bands_$rpb AS (
           |  SELECT doc_id, seed // $rpb AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS band_hash
           |  FROM mh GROUP BY doc_id, seed // $rpb),
           |cand_$rpb AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands_$rpb a JOIN bands_$rpb b
           |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
           |m_$rpb AS (
           |  SELECT ${16 / rpb} AS n_bands, $rpb AS rows_per_band,
           |         (SELECT count(*) FROM truth) AS n_truth,
           |         (SELECT count(*) FROM cand_$rpb) AS n_candidates,
           |         (SELECT count(*) FROM truth t JOIN cand_$rpb c
           |            ON c.a_id = t.a_id AND c.b_id = t.b_id) AS n_hit)""".stripMargin
      s"""$shingCte,
         |mh AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
         |  FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
         |  GROUP BY doc_id, seed),
         |common AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
         |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT a_id, b_id
         |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
         |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
         |${cfg(2)},
         |${cfg(4)},
         |${cfg(8)},
         |m AS (SELECT * FROM m_2 UNION ALL SELECT * FROM m_4 UNION ALL SELECT * FROM m_8)
         |SELECT n_bands, rows_per_band, n_truth, n_candidates, n_hit,
         |  CASE WHEN n_truth = 0 THEN NULL
         |       ELSE (n_hit * 1000000) // n_truth END AS recall_ppm,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |       ELSE (n_hit * 1000000) // n_candidates END AS precision_ppm
         |FROM m""".stripMargin
    },
  ) { (s, d) =>
    val truth = sharedJaccardPairs(s, d).select("a_id", "b_id")
    val sigs  = sharedMinhashSigs(s, d)
    val perCfg = Seq(2, 4, 8).map { rpb =>
      val cands = Dedup.lshCandidates(Dedup.lshBands(sigs, rowsPerBand = rpb))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nCand  = cands.agg(count(lit(1)).as("n_candidates"))
      val nHit = truth
        .join(cands, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nTruth
        .crossJoin(broadcast(nCand))
        .crossJoin(broadcast(nHit))
        .select(
          lit(16 / rpb).as("n_bands"),
          lit(rpb).as("rows_per_band"),
          col("n_truth"),
          col("n_candidates"),
          col("n_hit"),
          when(col("n_truth") === 0, lit(null))
            .otherwise(expr("(n_hit * 1000000L) div n_truth"))
            .as("recall_ppm"),
          when(col("n_candidates") === 0, lit(null))
            .otherwise(expr("(n_hit * 1000000L) div n_candidates"))
            .as("precision_ppm"),
        )
    }
    perCfg.reduce(_ unionByName _)
  }

  /** Incremental cross-run NEAR-dup screen
    * ([[graft.ops.Dedup.dedupIncrementalFuzzyNative]]): the persisted state
    * is the LSH (band, band_hash) index of a previous run (documents
    * below id 250); the incoming batch is the rest of the corpus plus
    * 50 id-shifted replicas of indexed documents. The replicas collide
    * on every band and must drop; of the second half, documents whose
    * planted near-dup partner sits in the indexed half drop too (13 at
    * sf0.01) and the rest survive — both paths deterministically
    * exercised, and the oracle replays signature build, banding, index
    * derivation, and the screen. */
  private val dedupIncrementalFuzzy = Q(
    "ddp_dedup_incremental_fuzzy",
    s"""WITH corpus AS (
       |  SELECT doc_id + 100000 AS doc_id, text, source FROM documents WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id, text, source FROM documents WHERE doc_id >= 250),
       |all_docs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 250
       |  UNION ALL
       |  SELECT doc_id, text FROM corpus),
       |toks AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM all_docs),
       |shing AS (SELECT doc_id,
       |    unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM toks),
       |mh AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
       |  GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, seed // 4 AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS band_hash
       |  FROM mh GROUP BY doc_id, seed // 4),
       |idx AS (SELECT DISTINCT band, band_hash FROM bands WHERE doc_id < 250),
       |hit AS (
       |  SELECT DISTINCT b.doc_id FROM bands b JOIN idx USING (band, band_hash)
       |  WHERE b.doc_id >= 250)
       |SELECT doc_id, source FROM corpus
       |WHERE doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    val batch = docs
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("source"))
      .unionAll(docs.filter(col("doc_id") >= 250).select("doc_id", "text", "source"))
    // Native one-pass signature stage on both sides (bit-equal to the
    // relational chain the oracle replays): index build and batch
    // screen are each one scan of their documents plus the keyed
    // semi-join — no shingle explode, no signature aggregate.
    val index = Dedup.bandIndexNative(
      docs.filter(col("doc_id") < 250),
      "doc_id",
      "text",
      n = 3,
      k = 16,
      rowsPerBand = 4,
    )
    Dedup
      .dedupIncrementalFuzzyNative(batch, "doc_id", "text", index, n = 3, k = 16, rowsPerBand = 4)
      .select("doc_id", "source")
  }

  /** Shingle-level containment pairs
    * ([[graft.ops.Dedup.containmentPairsPrefix]]): the corpus plus 30
    * id-shifted 12-token prefixes of existing documents — every
    * planted prefix's distinct shingle set is a subset of its source
    * document's, so it must appear as an (inner, outer) pair; the
    * un-planted corpus contributes only its genuine near-dup
    * containments. Oracle replays the distinct-shingle intersection
    * and the c = |inner| test. */
  private val containmentPairsQ = Q(
    "ddp_containment_pairs",
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000 AS doc_id,
       |         array_to_string((regexp_extract_all(text, '\\w+'))[1:12], ' ') AS text
       |  FROM documents WHERE doc_id < 30),
       |toks AS (SELECT doc_id, regexp_extract_all(text, '\\w+') AS toks FROM corpus),
       |shing AS (SELECT doc_id,
       |    unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT inner_id, outer_id, c AS n_shingles
       |FROM common JOIN sizes na ON na.doc_id = inner_id
       |WHERE c = na.n""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    val corpus = docs
      .select("doc_id", "text")
      .unionAll(
        docs
          .filter(col("doc_id") < 30)
          .select(
            (col("doc_id") + 200000).as("doc_id"),
            concat_ws(" ", slice(graft.ops.Text.tokens(col("text")), 1, 12)).as("text"),
          )
      )
    // the rarest-prefix form is the gate path (result-identical to the
    // naive self-join, spec-pinned; linear vs ~15x at the 10x corpus)
    Dedup.containmentPairsPrefix(Dedup.shingleSets(corpus, "doc_id", "text", 3))
  }

  /** Per-document 32-bit SimHash signatures. */
  private val simhashSigs = Q(
    "ddp_simhash_sigs",
    s"""$shingCte,
       |bits AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN strpos('0123456789abcdef', substr(md5(sh), pos, 1)) - 1 >= 8
       |        THEN 1 ELSE -1 END) AS s
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS pos) p
       |  GROUP BY doc_id, pos)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << (pos - 1)) ELSE 0 END)
       |       AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id""".stripMargin,
  ) { (s, d) =>
    // Native single-pass expression — proven bit-equal to the
    // relational vote aggregate in FunctionsSpec; the oracle stays the
    // relational SQL. Map-only: no shuffle at all for signatures.
    // Sub-3-token documents have no 3-shingles: the oracle's shing CTE
    // drops them (no sig row) while the native expression would emit a
    // 0 signature — filter them here so both sides agree by
    // construction, not by accident of the current testdata.
    documents(s, d)
      .filter(size(graft.ops.Text.tokens(col("text"))) >= 3)
      .select(col("doc_id"), graft.functions.SimHash64Md5Expr.simhash32(col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance <= 4. */
  private val simhashPairs = Q(
    "ddp_simhash_pairs",
    s"""$shingCte,
       |bits AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN strpos('0123456789abcdef', substr(md5(sh), pos, 1)) - 1 >= 8
       |        THEN 1 ELSE -1 END) AS s
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS pos) p
       |  GROUP BY doc_id, pos),
       |sigs AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN s > 0 THEN (1::BIGINT << (pos - 1)) ELSE 0 END) AS simhash
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4""".stripMargin,
  ) { (s, d) =>
    // shingle-less docs carry no signature on either side (see
    // ddp_simhash_sigs): without this filter two sub-3-token docs
    // would pair at hamming 0 here but produce no oracle pair
    val sigs = documents(s, d)
      .filter(size(graft.ops.Text.tokens(col("text"))) >= 3)
      .select(col("doc_id"), graft.functions.SimHash64Md5Expr.simhash32(col("text")).as("simhash"))
    Dedup.simhashPairs(sigs, maxHamming = 4)
  }

  /** The 64-bit xxhash64 SimHash production path (engine-specific
    * hashing ⇒ rows-only check, like the HLL sketches): the at-scale
    * configuration of the SimHash family. Hamming ≤ 4 pigeonholes into
    * 5 bands whatever the width, so band width — and the random-
    * collision divisor — doubles with 64-bit signatures: 12–13-bit
    * bands (4096+ buckets) where the 32-bit demo has 6–7 (64–128).
    * Measured at the 10× replica: 32-bit 39s (quadratic floor), 64-bit
    * stays candidate-proportional. */
  private val simhash64Pairs = Q.noOracle("ddp_simhash64_pairs") { (s, d) =>
    Dedup.simhashPairs(Dedup.simhash64Xx(sharedShingles(s, d)), maxHamming = 4, bits = 64)
  }

  /** 64-bit SimHash pairing, differentially checked: the signature is
    * [[graft.functions.SimHash64Md5Expr]] (the engine-reproducible md5
    * twin of the xxhash64 production hash), so the oracle can brute-
    * force Hamming over all pairs while Spark runs the identical
    * 5-band pigeonhole self-join the production path uses — what is
    * being proven is the 64-bit BANDING's completeness (bands of 12–13
    * bits, bit 63's sign wraparound included), the part of
    * `ddp_simhash64_pairs` that `no_oracle` could not reach. */
  private val simhash64Md5Pairs = Q(
    "ddp_simhash64_md5_pairs",
    s"""$shingCte,
       |bits AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN pos <= 32
       |      THEN CASE WHEN strpos('0123456789abcdef', substr(md5(sh), pos, 1)) - 1 >= 8
       |           THEN 1 ELSE -1 END
       |      ELSE CASE WHEN ((strpos('0123456789abcdef', substr(md5(sh), pos - 32, 1)) - 1) % 8) >= 4
       |           THEN 1 ELSE -1 END
       |      END) AS s
       |  FROM shing CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
       |  GROUP BY doc_id, pos),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
       |              THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id,
       |      SUM(CASE WHEN s > 0 THEN (1::HUGEINT << (pos - 1)) ELSE 0::HUGEINT END) AS u
       |    FROM bits GROUP BY doc_id))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4""".stripMargin,
  ) { (s, d) =>
    // Native one-pass signature (bit-equal to the relational vote
    // aggregate over the shingle table, asserted in FunctionsSpec):
    // the signature stage is map-only over the documents scan — no
    // shingle shuffle — leaving the banded self-join as the query's
    // only exchange.
    // same zero-shingle guard as the 32-bit queries: the oracle has no
    // sig row for sub-3-token docs, the native expression returns 0
    val sigs = documents(s, d)
      .filter(size(graft.ops.Text.tokens(col("text"))) >= 3)
      .select(
        col("doc_id"),
        graft.functions.SimHash64Md5Expr.simhash64_md5(col("text")).as("simhash"),
      )
    Dedup.simhashPairs(sigs, maxHamming = 4, bits = 64)
  }

  /** Connected components over the Jaccard near-dup pairs (min-label
    * propagation vs the oracle's recursive-CTE transitive closure):
    * each near-dup document mapped to its canonical representative. */
  private val jaccardComponents = Q(
    "ddp_jaccard_components",
    s"""${shingCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |common AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT a_id, b_id
       |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
       |edges AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT s AS doc_id, least(s, min(d)) AS component
       |FROM reach GROUP BY s""".stripMargin,
  ) { (s, d) =>
    Dedup.clusterPairs(sharedJaccardPairs(s, d).select("a_id", "b_id"))
  }

  /** End-to-end corpus dedup: keep canonical (minimum-id) members of
    * every near-dup component plus all unpaired documents — the actual
    * "write the deduplicated corpus" operation. Oracle: anti-join
    * against the recursive-closure components that are not their own
    * canonical. */
  private val dedupKeep = Q(
    "ddp_dedup_keep",
    s"""${shingCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |common AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT a_id, b_id
       |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
       |edges AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT doc_id, source FROM documents
       |WHERE doc_id NOT IN (
       |  SELECT s FROM (SELECT s, least(s, min(d)) AS component FROM reach GROUP BY s)
       |  WHERE s <> component)""".stripMargin,
  ) { (s, d) =>
    Dedup
      .dedupByPairs(documents(s, d), "doc_id", sharedJaccardPairs(s, d).select("a_id", "b_id"))
      .select("doc_id", "source")
  }

  /** Quality-aware corpus dedup (SemDeDup-style keep rule,
    * [[graft.ops.Dedup.dedupKeepBest]]): from each near-dup component
    * keep the LONGEST member (n_chars as the quality score, ties →
    * smallest id) instead of the min id — near-duplicates are rarely
    * equal quality, and the keep decision should prefer the best copy.
    * Oracle: same recursive closure, losers ranked per component by
    * (n_chars DESC, doc_id). */
  private val dedupKeepBest = Q(
    "ddp_dedup_keep_best",
    s"""${shingCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |common AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT a_id, b_id
       |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
       |edges AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s),
       |ranked AS (
       |  SELECT c.doc_id,
       |    row_number() OVER (PARTITION BY c.component
       |                       ORDER BY doc.n_chars DESC, c.doc_id) AS rk
       |  FROM comp c JOIN documents doc USING (doc_id))
       |SELECT doc_id, source FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)""".stripMargin,
  ) { (s, d) =>
    Dedup
      .dedupKeepBest(documents(s, d), "doc_id", "n_chars",
        sharedJaccardPairs(s, d).select("a_id", "b_id"))
      .select("doc_id", "source")
  }

  /** Shared oracle CTE: embeddings with their left-fold L2 norm. */
  private val embCte =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y)) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Shared oracle CTEs: md5-Rademacher SRP band keys (72 planes in 12
    * bands of 6 bits) — the identical index the Spark side builds from
    * precomputed plane literals. */
  private val srpBandCte =
    """d AS (
      |  SELECT vec_id, p,
      |    list_reduce(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) *
      |           (CASE WHEN ascii(substr(md5(p || ':' || i), 1, 1)) >= 56
      |                 THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y) AS dotp
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 71)) AS p) pl),
      |bk AS (
      |  SELECT vec_id, p // 6 AS band,
      |         SUM(CASE WHEN dotp >= 0 THEN (1 << (p % 6)) ELSE 0 END) AS key
      |  FROM d GROUP BY 1, 2)""".stripMargin

  /** Shared oracle tail: exact-cosine verify of a `cand(a_id, b_id)`
    * CTE at τ = 0.45. A change to the fold or threshold must hit every
    * embedding-pairs oracle at once. */
  private val cosVerifyTail =
    """SELECT a_id, b_id, cos FROM (
      |  SELECT a_id, b_id,
      |    list_reduce(list_transform(generate_series(1, len(ea.embedding)),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) / (ea.nrm * eb.nrm) AS cos
      |  FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id)
      |WHERE cos >= 0.45""".stripMargin

  /** Embedding-cosine near-duplicate pairs (τ = 0.45; 72 md5-Rademacher
    * planes in 12 bands of 6 bits): SRP band-collision candidates,
    * verified with the exact left-fold cosine. Both engines build the
    * identical index, so the oracle checks the approximation itself —
    * candidate generation and the verify threshold. The synthetic
    * embeddings are near-orthogonal (max pairwise cos ≈ 0.51), hence
    * the low demo τ; production near-dup (τ ≥ 0.9) recall for this
    * config is ≥ 0.99 (see OpsSpec). */
  private val embeddingPairs = Q(
    "ddp_embedding_pairs",
    s"""$embCte,
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |$cosVerifyTail""".stripMargin,
  ) { (s, d) =>
    graft.ops.Similarity.embeddingDupPairs(
      embeddings(s, d),
      idCol = "vec_id",
      embCol = "embedding",
      tau = 0.45,
      nPlanes = 72,
      bands = 12,
    )
  }

  /** k-NN graph over the embedding corpus
    * ([[graft.ops.Similarity.knnGraph]]): per node, top-3 exact-cosine
    * neighbors among the SRP band-collision candidates at τ = 0.45,
    * with the mutuality flag. The oracle replays the identical index,
    * symmetrization, rank, and reciprocity join. */
  private val knnGraphQ = Q(
    "sim_knn_graph",
    s"""$embCte,
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ep AS ($cosVerifyTail),
       |directed AS (
       |  SELECT a_id AS src, b_id AS dst, cos FROM ep
       |  UNION ALL SELECT b_id, a_id, cos FROM ep),
       |ranked AS (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM directed QUALIFY rnk <= 3)
       |SELECT r.src, r.dst, r.cos, r.rnk,
       |  (m.src IS NOT NULL) AS mutual
       |FROM ranked r LEFT JOIN ranked m ON m.src = r.dst AND m.dst = r.src""".stripMargin,
  ) { (s, d) =>
    graft.ops.Similarity.knnGraph(
      embeddings(s, d),
      idCol = "vec_id",
      embCol = "embedding",
      k = 3,
      tau = 0.45,
      nPlanes = 72,
      bands = 12,
    )
  }

  /** [[knnGraphQ]] through the auto-banded ladder
    * ([[graft.ops.Similarity.embeddingDupPairsAuto]] pairs into
    * [[graft.ops.Similarity.knnGraphFromPairs]]) — the production twin of
    * the fixed-config demo row (identical at gate scale: the probe
    * picks the 72/12 rung for ≤ 4000 vectors, which is what the shared
    * oracle replays). */
  private val knnGraphAutoQ = Q(
    "sim_knn_graph_auto",
    s"""$embCte,
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ep AS ($cosVerifyTail),
       |directed AS (
       |  SELECT a_id AS src, b_id AS dst, cos FROM ep
       |  UNION ALL SELECT b_id, a_id, cos FROM ep),
       |ranked AS (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM directed QUALIFY rnk <= 3)
       |SELECT r.src, r.dst, r.cos, r.rnk,
       |  (m.src IS NOT NULL) AS mutual
       |FROM ranked r LEFT JOIN ranked m ON m.src = r.dst AND m.dst = r.src""".stripMargin,
  ) { (s, d) =>
    // composed over the shared verified pair table (identical pairs:
    // the ladder's ≤4000-vector rung IS 72/12 at gate scale)
    graft.ops.Similarity.knnGraphFromPairs(sharedEmbPairs(s, d), k = 3)
  }

  /** Mutual-k-NN semantic clusters
    * ([[graft.ops.Similarity.mutualKnnClustersFromPairs]]): connected components
    * of the reciprocated k-NN edges — the hub-robust cluster stage
    * under SemDeDup. Oracle: the same graph through a recursive
    * reachability closure. */
  private val knnClustersQ = Q(
    "sim_knn_mutual_clusters",
    s"""${embCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ep AS ($cosVerifyTail),
       |directed AS (
       |  SELECT a_id AS src, b_id AS dst, cos FROM ep
       |  UNION ALL SELECT b_id, a_id, cos FROM ep),
       |ranked AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM directed QUALIFY rnk <= 3),
       |mut AS (
       |  SELECT r.src AS a_id, r.dst AS b_id
       |  FROM ranked r JOIN ranked m ON m.src = r.dst AND m.dst = r.src
       |  WHERE r.src < r.dst),
       |edges AS (SELECT a_id AS s, b_id AS d FROM mut UNION SELECT b_id, a_id FROM mut),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT s AS doc_id, least(s, min(d)) AS component
       |FROM reach GROUP BY s""".stripMargin,
  ) { (s, d) =>
    // auto-banded: identical at gate scale (72/12 is the ≤4000-vector
    // rung the oracle replays); the production collision floor stays
    // ∝ N — this row needs no fixed-config demo twin.
    graft.ops.Similarity.mutualKnnClustersFromPairs(sharedEmbPairs(s, d), k = 3)
  }

  /** Cluster-cohesion report over the mutual-k-NN components
    * ([[graft.ops.Similarity.clusterCohesionFromPairs]]): per semantic cluster,
    * size and mean pairwise cosine (floored ppm per pair BEFORE the
    * sum, so the mean is an order-independent integer quotient) — the
    * quality artifact that says how tight the clusters SemDeDup is
    * about to collapse are. */
  private val clusterCohesionQ = Q(
    "sim_cluster_cohesion",
    s"""${embCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ep AS ($cosVerifyTail),
       |directed AS (
       |  SELECT a_id AS src, b_id AS dst, cos FROM ep
       |  UNION ALL SELECT b_id, a_id, cos FROM ep),
       |ranked AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM directed QUALIFY rnk <= 3),
       |mut AS (
       |  SELECT r.src AS a_id, r.dst AS b_id
       |  FROM ranked r JOIN ranked m ON m.src = r.dst AND m.dst = r.src
       |  WHERE r.src < r.dst),
       |edges AS (SELECT a_id AS s, b_id AS d FROM mut UNION SELECT b_id, a_id FROM mut),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s),
       |comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s),
       |mp AS (
       |  SELECT a.component,
       |    CAST(floor(list_reduce(list_transform(generate_series(1, len(ea.embedding)),
       |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) / (ea.nrm * eb.nrm) * 1000000) AS BIGINT) AS cp
       |  FROM comp a JOIN comp b ON a.component = b.component AND a.doc_id < b.doc_id
       |    JOIN e ea ON ea.vec_id = a.doc_id JOIN e eb ON eb.vec_id = b.doc_id)
       |SELECT c.component, count(*) AS n_members, p.n_pairs, p.mean_cos_ppm
       |FROM comp c JOIN (
       |  SELECT component, count(*) AS n_pairs,
       |    CAST(sum(cp) // count(*) AS BIGINT) AS mean_cos_ppm
       |  FROM mp GROUP BY 1) p USING (component)
       |GROUP BY c.component, p.n_pairs, p.mean_cos_ppm""".stripMargin,
  ) { (s, d) =>
    graft.ops.Similarity.clusterCohesionFromPairs(
      embeddings(s, d),
      idCol = "vec_id",
      embCol = "embedding",
      sharedEmbPairs(s, d),
      k = 3,
    )
  }

  /** SemDeDup proper, composed in the gate: embedding-cosine near-dup
    * clusters (the SRP-banded pairs above, identically indexed in the
    * oracle) reduced by the quality-aware keep rule — each semantic
    * cluster keeps its LONGEST document (ties → min id). This is the
    * [[graft.ops.Dedup.dedupKeepBest]] composition over
    * [[graft.ops.Similarity.embeddingDupPairs]]: the semantic-dedup
    * operation LLM pipelines run after text-level dedup. The oracle
    * chains the shared SRP/verify CTEs into a recursive closure and the
    * per-component argmax. */
  private val semdedupBest = Q(
    "ddp_semdedup_best",
    s"""${embCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ep AS ($cosVerifyTail),
       |eedges AS (SELECT a_id AS s, b_id AS t FROM ep UNION SELECT b_id, a_id FROM ep),
       |reach2(s, t) AS (
       |  SELECT s, t FROM eedges
       |  UNION
       |  SELECT r.s, x.t FROM reach2 r JOIN eedges x ON r.t = x.s),
       |comp AS (SELECT s AS doc_id, least(s, min(t)) AS component FROM reach2 GROUP BY s),
       |ranked AS (
       |  SELECT c.doc_id,
       |    row_number() OVER (PARTITION BY c.component
       |                       ORDER BY doc.n_chars DESC, c.doc_id) AS rk
       |  FROM comp c JOIN documents doc USING (doc_id))
       |SELECT doc_id, source FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)""".stripMargin,
  ) { (s, d) =>
    // auto-banded: the fixed 72/12 config saturates quadratically past
    // a few thousand vectors (measured 17x at the 10x corpus); the
    // count probe keeps the collision floor ∝ N. Identical results on
    // every rung at gate scales (the verify is exact; recall is total
    // on the planted pairs — the property ddp_embedding_pairs_auto
    // already oracle-checks standalone).
    val pairs = sharedEmbPairs(s, d).select("a_id", "b_id")
    Dedup
      .dedupKeepBest(documents(s, d), "doc_id", "n_chars", pairs)
      .select("doc_id", "source")
  }

  /** Multi-probe variant: the probe side also enumerates every
    * single-bit flip of each band key, so candidates include pairs
    * whose keys differ in ≤ 1 bit in some band. At this demo's hard
    * low-τ regime that recovers all 14 true pairs where exact banding
    * finds 10 — and the oracle enumerates the identical flips, so the
    * approximation itself is what's checked.
    *
    * Routed through the COUNT-PROBED banding ladder
    * ([[graft.ops.Similarity.chooseBanding]], `probes = 1`), the
    * `_auto` precedent: rung 1 IS the 72/12 demo config the oracle
    * enumerates (gate corpora sit below the first cutoff), while
    * larger corpora climb to wider band keys — the 10× replica
    * measured 353 s on the fixed config (the r ≈ 6 collision floor
    * bands·N²·(r+1)/2^r gone quadratic) vs single-digit seconds on
    * the ladder's rung 2. */
  private val embeddingPairsMp = Q(
    "ddp_embedding_pairs_mp",
    s"""$embCte,
       |$srpBandCte,
       |probe AS (
       |  SELECT vec_id, band, xor(key, m) AS key
       |  FROM bk CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS m) flips),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM probe a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |$cosVerifyTail""".stripMargin,
  ) { (s, d) =>
    graft.ops.Similarity.embeddingDupPairsAuto(
      embeddings(s, d),
      idCol = "vec_id",
      embCol = "embedding",
      tau = 0.45,
      probes = 1,
    )
  }

  /** Count-probed banding selection in the gate: at gate scale the
    * ladder's first rung IS the fixed 72-plane/12-band config, so the
    * auto variant shares `ddp_embedding_pairs`' oracle verbatim — what
    * the row checks is that auto-selection is invisible in the result
    * at its small-corpus rung (the large-corpus rungs change only the
    * candidate set's size bound, spec-pinned separately). */
  private val embeddingPairsAuto = Q(
    "ddp_embedding_pairs_auto",
    s"""$embCte,
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |$cosVerifyTail""".stripMargin,
  ) { (s, d) =>
    // reads the shared pair artifact (the sharedJaccardPairs
    // convention: the pairs gate IS the artifact's writer/reader)
    sharedEmbPairs(s, d)
  }

  /** IVF-cell-keyed embedding near-dup pairs (16 deterministic sampled
    * centroids, nprobe=2): candidate pairs share a probed cell, exact
    * cosine verify. The variant that reuses an existing ANN codebook;
    * the whole index is deterministic arithmetic, so the oracle checks
    * cell assignment, probing, and the verify threshold. */
  private val embeddingPairsIvf = Q(
    "ddp_embedding_pairs_ivf",
    s"""$embCte,
       |cent AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16),
       |asg AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crk
       |  FROM (
       |    SELECT e.vec_id, cent_id,
       |      list_reduce(list_transform(generate_series(1, len(e.embedding)),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cemb[i] AS DOUBLE)),
       |        (x, y) -> x + y) / (e.nrm * cnrm) AS ccos
       |    FROM e CROSS JOIN cent)),
       |home AS (SELECT vec_id, cent_id FROM asg WHERE crk = 1),
       |probe AS (SELECT vec_id, cent_id FROM asg WHERE crk <= 2),
       |cand AS (
       |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS a_id,
       |         greatest(a.vec_id, b.vec_id) AS b_id
       |  FROM probe a JOIN home b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id)
       |$cosVerifyTail""".stripMargin,
  ) { (s, d) =>
    val emb = embeddings(s, d)
    graft.ops.Similarity.embeddingDupPairsIvf(
      emb,
      idCol = "vec_id",
      embCol = "embedding",
      tau = 0.45,
      centroids = graft.ops.Similarity.ivfCentroids(emb, "vec_id", "embedding", 16),
      nprobe = 2,
    )
  }

  /** Benchmark decontamination (eval-leakage guard): the corpus with
    * every document sharing a 5-gram with the held-out benchmark split
    * (doc_id % 50 = 0 stands in for an eval set) removed. The oracle
    * rebuilds the identical distinct-shingle semi-join relationally;
    * 5-grams (not the natural-text 8–13) because the synthetic docs
    * are short word-salad — the rule, not the n, is what's checked. */
  private val decontaminate = Q(
    "ddp_decontaminate",
    """WITH bench AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
      |corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
      |btoks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM bench),
      |bsh AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
      |  FROM btoks),
      |ctoks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM corpus),
      |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS sh
      |  FROM ctoks),
      |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
      |SELECT doc_id, source FROM corpus
      |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
  ) { (s, d) =>
    val all    = documents(s, d)
    val bench  = all.filter(col("doc_id") % 50 === 0)
    val corpus = all.filter(col("doc_id") % 50 =!= 0)
    Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 5).select("doc_id", "source")
  }

  /** Fuzzy (Jaccard ≥ 0.3 on distinct 3-gram sets) decontamination
    * ([[graft.ops.Dedup.decontaminateFuzzy]]) — the paraphrase-robust
    * twin of `ddp_decontaminate`: a reworded benchmark document still
    * overlaps heavily at the short-shingle set level even when no
    * single long n-gram survives verbatim. The integer-ppm threshold
    * keeps the keep/drop decision float-free, so the oracle replays
    * the whole overlap computation exactly. */
  private val decontaminateFuzzyQ = Q(
    "ddp_decontaminate_fuzzy",
    """WITH docs AS (SELECT doc_id, source, regexp_extract_all(text, '\w+') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
      |  FROM docs),
      |bsh AS (SELECT doc_id AS b_id, sh FROM sh WHERE doc_id % 50 = 0),
      |csh AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
      |csz AS (SELECT doc_id, COUNT(*) AS a FROM csh GROUP BY 1),
      |bsz AS (SELECT b_id, COUNT(*) AS b FROM bsh GROUP BY 1),
      |inter AS (SELECT c.doc_id, b.b_id, COUNT(*) AS i FROM csh c JOIN bsh b USING (sh) GROUP BY 1, 2),
      |bad AS (
      |  SELECT DISTINCT doc_id FROM inter
      |  JOIN csz USING (doc_id) JOIN bsz USING (b_id)
      |  WHERE i * 1000000 >= 300000 * (a + b - i))
      |SELECT doc_id, source FROM documents
      |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
  ) { (s, d) =>
    val all    = documents(s, d)
    val bench  = all.filter(col("doc_id") % 50 === 0)
    val corpus = all.filter(col("doc_id") % 50 =!= 0)
    Dedup
      .decontaminateFuzzy(corpus, bench, "doc_id", "text", n = 3, tauPpm = 300000L)
      .select("doc_id", "source")
  }

  /** The composed training-corpus pipeline, end to end in the gate:
    * quality gate (token bounds) → language gate (marker heuristic) →
    * exact dedup (normalized fingerprint, keep min id) → fuzzy dedup
    * (MinHash-LSH candidates verified at Jaccard ≥ 0.8, components,
    * canonical keep). Every stage reuses an oracle expression already
    * proven by its standalone query; this checks their composition —
    * the actual "write the cleaned corpus" operation. */
  /** Shared oracle CTEs for the text-level corpus pipeline (quality →
    * language → exact dedup → MinHash-LSH fuzzy dedup): everything up
    * to the recursive near-dup closure. Consumed by both
    * `ddp_corpus_prepare` and the embedding-chained variant. */
  private val corpusTextCtes =
    """filt AS (
      |  SELECT doc_id, text, source FROM (
      |    SELECT doc_id, text, source,
      |      len(regexp_extract_all(text, '\w+')) AS n_tok,
      |      len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS h_en,
      |      len(regexp_extract_all(text, '\b(el|la|de|los|que|y)\b')) AS h_es,
      |      len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS h_de,
      |      len(regexp_extract_all(text, '\b(le|la|les|et|est)\b')) AS h_fr
      |    FROM documents)
      |  WHERE n_tok BETWEEN 10 AND 100000
      |    AND (CASE WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
      |              WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
      |              WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
      |              WHEN h_fr > 0 THEN 'fr'
      |              ELSE 'und' END) = 'en'),
      |keepx AS (
      |  SELECT min(doc_id) AS keep_id
      |  FROM filt GROUP BY md5(trim(regexp_replace(text, '\s+', ' ', 'g')))),
      |ex AS (SELECT f.* FROM filt f JOIN keepx ON doc_id = keep_id),
      |toks AS (SELECT doc_id, regexp_extract_all(text, '\w+') AS toks FROM ex),
      |shing AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
      |mh AS (
      |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
      |  FROM shing CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
      |  GROUP BY doc_id, seed),
      |bands AS (
      |  SELECT doc_id, seed // 4 AS band, md5(string_agg(mh, ',' ORDER BY seed)) AS band_hash
      |  FROM mh GROUP BY doc_id, seed // 4),
      |mcand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |common AS (
      |  SELECT a_id, b_id, count(*) AS c
      |  FROM mcand JOIN shing sa ON sa.doc_id = a_id
      |       JOIN shing sb ON sb.doc_id = b_id AND sa.sh = sb.sh
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT a_id, b_id
      |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
      |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.8),
      |edges AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
      |reach(s, d) AS (
      |  SELECT s, d FROM edges
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)""".stripMargin

  /** Shared oracle tail: the text pipeline's surviving documents. */
  private val corpusSurvSelect =
    """SELECT doc_id, source FROM ex
      |WHERE doc_id NOT IN (
      |  SELECT s FROM (SELECT s, least(s, min(d)) AS component FROM reach GROUP BY s)
      |  WHERE s <> component)""".stripMargin

  /** The text pipeline's survivor set feeds two gate queries (the
    * text-only result and the embedding-chained one) — materialized
    * once per (session, sfDir), the same shared-input pattern as the
    * shingle and pair caches. A production pipeline does the same:
    * the text-stage output is written once and both consumers read it. */
  private val sharedSurvivors = Shared("corpus_survivors",
    Set("ddp_decontaminate", "ddp_corpus_prepare", "ddp_corpus_prepare_emb", "ddp_corpus_mix")) {
    (s, d) =>
      graft.ops.CorpusPipeline
        .prepare(documents(s, d), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private val corpusPrepare = Q(
    "ddp_corpus_prepare",
    s"WITH RECURSIVE $corpusTextCtes\n$corpusSurvSelect",
  ) { (s, d) =>
    sharedSurvivors(s, d).select("doc_id", "source")
  }

  /** The corpus pipeline chained with the embedding near-dup stage
    * (text survivors → SRP band-collision candidates → exact-cosine
    * verify at τ = 0.45 → components → canonical keep). The oracle
    * replays the full composition: the text pipeline's CTEs, the
    * identical SRP band index restricted to the survivors' embeddings,
    * and a second recursive closure over the verified pairs — so what's
    * differentially checked is the chaining itself (a document dropped
    * by the text stage must never resurface as an embedding candidate,
    * and vice versa). */
  private val corpusPrepareEmb = Q(
    "ddp_corpus_prepare_emb",
    s"""WITH RECURSIVE $corpusTextCtes,
       |surv AS ($corpusSurvSelect),
       |e AS (
       |  SELECT em.vec_id, em.embedding,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(em.embedding)),
       |      i -> CAST(em.embedding[i] AS DOUBLE) * CAST(em.embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y)) AS nrm
       |  FROM embeddings em JOIN surv ON em.vec_id = surv.doc_id),
       |$srpBandCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |ep AS ($cosVerifyTail),
       |eedges AS (SELECT a_id AS s, b_id AS t FROM ep UNION SELECT b_id, a_id FROM ep),
       |reach2(s, t) AS (
       |  SELECT s, t FROM eedges
       |  UNION
       |  SELECT r.s, x.t FROM reach2 r JOIN eedges x ON r.t = x.s)
       |SELECT doc_id, source FROM surv
       |WHERE doc_id NOT IN (
       |  SELECT s FROM (SELECT s, least(s, min(t)) AS component FROM reach2 GROUP BY s)
       |  WHERE s <> component)""".stripMargin,
  ) { (s, d) =>
    graft.ops.CorpusPipeline
      .embeddingStage(
        sharedSurvivors(s, d),
        embeddings(s, d),
        idCol = "doc_id",
        embIdCol = "vec_id",
        embCol = "embedding",
        embTau = 0.45,
      )
      .select("doc_id", "source")
  }

  /** Curation → training-mix composition ([[graft.ops.CorpusPipeline.mix]]):
    * the text pipeline's survivors rebalanced at temperature α = 1/2
    * (√-share rates computed FROM THE SURVIVOR strata counts — the
    * mix sees post-dedup shares, as a real pipeline would) and
    * hash-sharded for the training writer. The oracle replays the
    * full chain: text-pipeline CTEs → survivor strata counts →
    * integerized √-weights → rate predicate → shard hash. */
  /** Sorted-neighborhood blocking ([[graft.ops.Blocking]]): candidate
    * pairs from a sliding window of 4 over the corpus ordered by
    * (length, doc_id) — the entity-resolution candidate generator for
    * keys that are CLOSE but not equal, which every exact-key block in
    * this suite misses by construction. The Spark side composes the
    * global rank histogram-first (no corpus sort) and pairs via the
    * two-block equi-join; the oracle states the same set with a plain
    * `row_number()` + rank-distance self-join — the equivalence of the
    * two formulations is the thing under test. */
  private val snmPairsQ = Q(
    "ddp_snm_pairs",
    """WITH r AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk
      |  FROM documents WHERE n_chars IS NOT NULL)
      |SELECT x.doc_id AS a_id, y.doc_id AS b_id, y.rk - x.rk AS gap
      |FROM r x JOIN r y ON y.rk > x.rk AND y.rk < x.rk + 4""".stripMargin,
  ) { (s, d) =>
    graft.ops.Blocking.snmPairs(
      documents(s, d).select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
      "n_chars",
      "doc_id",
      window = 4,
    )
  }

  /** Entity-resolution pipeline over a SYNTHESIZED perturbation
    * surface ([[graft.ops.Blocking.perturbNames]] +
    * [[graft.ops.Blocking.matchBest]]): each part's entity name
    * (p_name + brand + type) gets one hash-seeded dirty variant
    * (token swap / abbreviation / typo — all on tokens 1-2), the dirty
    * records block against the clean registry on the perturbation-
    * stable suffix (brand + type — real blocking keys live in the
    * fields noise doesn't reach), candidates score token-set Jaccard,
    * and each dirty record keeps its best match (ties → smallest id,
    * both engines). `is_correct` is free ground truth: the generating
    * id. The oracle replays generation AND resolution end-to-end —
    * the argmax stated as a window, the Spark side as min(struct).
    * Accuracy is capped by the corpus, not the matcher: only 64
    * distinct p_names exist, so many canonical records are
    * byte-identical entities under different ids and the id tie-break
    * cannot recover the generating id (~69% at sf0.01) — exactly the
    * duplicate-registry ambiguity real ER reports as a cluster, which
    * is what `n_candidates` surfaces. */
  private val entityMatchQ = Q(
    "ddp_entity_match",
    """WITH ent AS (
      |  SELECT p_partkey AS id, p_name || ' ' || p_brand || ' ' || p_type AS name FROM part),
      |pert AS (
      |  SELECT id, string_split(name, ' ') AS t,
      |    CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || name), 1, 6)) AS BIGINT) % 3 AS c
      |  FROM ent),
      |dirty AS (
      |  SELECT id,
      |    CASE c
      |      WHEN 0 THEN array_to_string(list_concat([t[2], t[1]], t[3:]), ' ')
      |      WHEN 1 THEN array_to_string(list_concat([substr(t[1], 1, 3), t[2]], t[3:]), ' ')
      |      ELSE array_to_string(
      |        list_concat([t[1], substr(t[2], 1, greatest(len(t[2]) - 1, 1))], t[3:]), ' ')
      |    END AS name FROM pert),
      |db AS (SELECT id, array_to_string(string_split(name, ' ')[3:], ' ') AS block,
      |         list_distinct(string_split(name, ' ')) AS toks FROM dirty),
      |cb AS (SELECT id, array_to_string(string_split(name, ' ')[3:], ' ') AS block,
      |         list_distinct(string_split(name, ' ')) AS toks FROM ent),
      |pairs AS (
      |  SELECT d.id AS dirty_id, c.id AS canon_id,
      |    CAST(len(list_intersect(d.toks, c.toks)) * 1000000
      |         // len(list_distinct(list_concat(d.toks, c.toks))) AS BIGINT) AS sim_ppm
      |  FROM db d JOIN cb c USING (block)),
      |keep AS (SELECT * FROM pairs WHERE sim_ppm >= 400000)
      |SELECT dirty_id, canon_id, sim_ppm, n_candidates, dirty_id = canon_id AS is_correct
      |FROM (
      |  SELECT dirty_id, canon_id, sim_ppm,
      |    count(*) OVER (PARTITION BY dirty_id) AS n_candidates,
      |    row_number() OVER (PARTITION BY dirty_id ORDER BY sim_ppm DESC, canon_id) AS rn
      |  FROM keep) WHERE rn = 1""".stripMargin,
  ) { (s, d) =>
    sharedErMatch(s, d).withColumn("is_correct", col("dirty_id") === col("canon_id"))
  }

  /** Record-linkage quality rollup ([[graft.ops.Eval.linkageReport]])
    * over the [[entityMatchQ]] pipeline: one exact-integer-ppm
    * (precision, recall) row — the number an ER pipeline is tuned on.
    * Recall's denominator is the FULL dirty population (queries the
    * matcher dropped count against it), precision's is the matched
    * set. Two single-row aggregates + a broadcast 1-row cross join —
    * nothing corpus-sized moves beyond the match itself. */
  private val linkageReportQ = Q(
    "ddp_linkage_report",
    """WITH ent AS (
      |  SELECT p_partkey AS id, p_name || ' ' || p_brand || ' ' || p_type AS name FROM part),
      |pert AS (
      |  SELECT id, string_split(name, ' ') AS t,
      |    CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || name), 1, 6)) AS BIGINT) % 3 AS c
      |  FROM ent),
      |dirty AS (
      |  SELECT id,
      |    CASE c
      |      WHEN 0 THEN array_to_string(list_concat([t[2], t[1]], t[3:]), ' ')
      |      WHEN 1 THEN array_to_string(list_concat([substr(t[1], 1, 3), t[2]], t[3:]), ' ')
      |      ELSE array_to_string(
      |        list_concat([t[1], substr(t[2], 1, greatest(len(t[2]) - 1, 1))], t[3:]), ' ')
      |    END AS name FROM pert),
      |db AS (SELECT id, array_to_string(string_split(name, ' ')[3:], ' ') AS block,
      |         list_distinct(string_split(name, ' ')) AS toks FROM dirty),
      |cb AS (SELECT id, array_to_string(string_split(name, ' ')[3:], ' ') AS block,
      |         list_distinct(string_split(name, ' ')) AS toks FROM ent),
      |pairs AS (
      |  SELECT d.id AS dirty_id, c.id AS canon_id,
      |    CAST(len(list_intersect(d.toks, c.toks)) * 1000000
      |         // len(list_distinct(list_concat(d.toks, c.toks))) AS BIGINT) AS sim_ppm
      |  FROM db d JOIN cb c USING (block)),
      |keep AS (SELECT * FROM pairs WHERE sim_ppm >= 400000),
      |best AS (
      |  SELECT dirty_id, canon_id, dirty_id = canon_id AS is_correct
      |  FROM (
      |    SELECT dirty_id, canon_id,
      |      row_number() OVER (PARTITION BY dirty_id ORDER BY sim_ppm DESC, canon_id) AS rn
      |    FROM keep) WHERE rn = 1)
      |SELECT
      |  (SELECT count(*) FROM dirty) AS n_queries,
      |  count(*) AS n_matched,
      |  CAST(coalesce(sum(CASE WHEN is_correct THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct,
      |  CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(coalesce(sum(CASE WHEN is_correct THEN 1 ELSE 0 END), 0) * 1000000
      |              // count(*) AS BIGINT) END AS precision_ppm,
      |  CAST(coalesce(sum(CASE WHEN is_correct THEN 1 ELSE 0 END), 0) * 1000000
      |       // (SELECT count(*) FROM dirty) AS BIGINT) AS recall_ppm
      |FROM best""".stripMargin,
  ) { (s, d) =>
    graft.ops.Eval.linkageReport(
      sharedErMatch(s, d),
      col("dirty_id") === col("canon_id"),
      graft.ops.Blocking.perturbNames(erEntities(s, d), "id", "name"),
    )
  }

  /** Jaro–Winkler-scored entity resolution
    * ([[graft.ops.Blocking.matchBestJw]]) over the SAME perturbation
    * surface as [[entityMatchQ]] — the character-level scorer sees the
    * within-token typo/abbreviation edits that token-set Jaccard
    * flattens to whole-token mismatches. Exact DOUBLE differential (the
    * `str_jaro_nations` bit-equality carried into a pipeline). */
  private val entityMatchJwQ = Q(
    "ddp_entity_match_jw",
    """WITH ent AS (
      |  SELECT p_partkey AS id, p_name || ' ' || p_brand || ' ' || p_type AS name FROM part),
      |pert AS (
      |  SELECT id, string_split(name, ' ') AS t,
      |    CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || name), 1, 6)) AS BIGINT) % 3 AS c
      |  FROM ent),
      |dirty AS (
      |  SELECT id,
      |    CASE c
      |      WHEN 0 THEN array_to_string(list_concat([t[2], t[1]], t[3:]), ' ')
      |      WHEN 1 THEN array_to_string(list_concat([substr(t[1], 1, 3), t[2]], t[3:]), ' ')
      |      ELSE array_to_string(
      |        list_concat([t[1], substr(t[2], 1, greatest(len(t[2]) - 1, 1))], t[3:]), ' ')
      |    END AS name FROM pert),
      |db AS (SELECT id, name, array_to_string(string_split(name, ' ')[3:], ' ') AS block
      |       FROM dirty),
      |cb AS (SELECT id, name, array_to_string(string_split(name, ' ')[3:], ' ') AS block
      |       FROM ent),
      |pairs AS (
      |  SELECT d.id AS dirty_id, c.id AS canon_id,
      |    jaro_winkler_similarity(d.name, c.name) AS jw
      |  FROM db d JOIN cb c USING (block)),
      |keep AS (SELECT * FROM pairs WHERE jw >= 0.9)
      |SELECT dirty_id, canon_id, jw, n_candidates, dirty_id = canon_id AS is_correct
      |FROM (
      |  SELECT dirty_id, canon_id, jw,
      |    count(*) OVER (PARTITION BY dirty_id) AS n_candidates,
      |    row_number() OVER (PARTITION BY dirty_id ORDER BY jw DESC, canon_id) AS rn
      |  FROM keep) WHERE rn = 1""".stripMargin,
  ) { (s, d) =>
    val ent = erEntities(s, d)
    graft.ops.Blocking
      .matchBestJw(
        erBlocked(graft.ops.Blocking.perturbNames(ent, "id", "name")),
        erBlocked(ent),
        minSim = 0.9,
      )
      .withColumn("is_correct", col("dirty_id") === col("canon_id"))
  }

  private val corpusMix = Q(
    "ddp_corpus_mix",
    s"""WITH RECURSIVE $corpusTextCtes,
       |surv AS ($corpusSurvSelect),
       |c AS (SELECT source, count(*) AS n FROM surv WHERE source IS NOT NULL GROUP BY 1),
       |q AS (SELECT source, n,
       |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS qs FROM c),
       |st AS (SELECT CAST(sum(qs) AS BIGINT) AS tot FROM q),
       |r AS (SELECT source, (300.0 * qs) / (CAST(tot AS DOUBLE) * n) AS rate
       |      FROM q CROSS JOIN st)
       |SELECT s.doc_id, s.source,
       |  CAST(('0x' || substr(md5(coalesce(CAST(s.doc_id AS VARCHAR), '')), 1, 6)) AS BIGINT) % 8 AS shard
       |FROM surv s JOIN r ON r.source = s.source
       |WHERE CAST(('0x' || substr(md5(coalesce(CAST(s.doc_id AS VARCHAR), '')), 1, 6)) AS BIGINT) / 16777216.0
       |  < r.rate""".stripMargin,
  ) { (s, d) =>
    graft.ops.CorpusPipeline
      .mix(sharedSurvivors(s, d), "doc_id", "source", budget = 300L, nShards = 8)
      .select("doc_id", "source", "shard")
  }

  /** Leakage-aware train/validation split ([[graft.ops.Dedup.componentSplit]]):
    * every Jaccard near-dup COMPONENT lands atomically on one side of
    * the split (hash of the component's canonical id), so a training
    * document's near-twin can never sit in the validation set — the
    * within-corpus contamination channel a per-document hash split
    * leaves open. Oracle: recursive-CTE closure for the components,
    * then the identical md5-fraction predicate on the canonical id. */
  private val componentSplitQ = Q(
    "ddp_component_split",
    s"""${shingCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |common AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT a_id, b_id
       |  FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
       |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5),
       |edges AS (SELECT a_id AS s, b_id AS d FROM jp UNION SELECT b_id, a_id FROM jp),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s)
       |SELECT d.doc_id,
       |  coalesce(c.component, d.doc_id) AS component,
       |  CASE WHEN CAST(('0x' || substr(md5(coalesce(CAST(coalesce(c.component, d.doc_id) AS VARCHAR), '')), 1, 6)) AS BIGINT)
       |            / 16777216.0 < 0.2
       |       THEN 'valid' ELSE 'train' END AS split
       |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin,
  ) { (s, d) =>
    Dedup
      .componentSplit(
        documents(s, d),
        "doc_id",
        sharedJaccardPairs(s, d).select("a_id", "b_id"),
        validFraction = 0.2,
      )
      .select("doc_id", "component", "split")
  }

  /** Corpus snapshot diff ([[graft.ops.Cdc.snapshotDiff]]): two
    * simulated corpus versions (v1 drops the mod-7 docs, v2 drops the
    * mod-5 docs and edits the mod-3 texts) diffed into a per-key
    * added/removed/changed/unchanged changefeed — dataset versioning's
    * incremental-delta emission. One full-outer join on the key;
    * payloads hash map-side and never shuffle. */
  private val corpusDiffQ = Q(
    "ddp_corpus_diff",
    """WITH v1 AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 7 <> 0),
      |v2 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN text || '!' ELSE text END AS text,
      |         lang, source FROM documents WHERE doc_id % 5 <> 0),
      |ho AS (SELECT doc_id AS key,
      |         md5(coalesce(text, chr(0)) || chr(1) || coalesce(lang, chr(0)) ||
      |             chr(1) || coalesce(source, chr(0))) AS h
      |       FROM v1),
      |hn AS (SELECT doc_id AS key,
      |         md5(coalesce(text, chr(0)) || chr(1) || coalesce(lang, chr(0)) ||
      |             chr(1) || coalesce(source, chr(0))) AS h
      |       FROM v2)
      |SELECT coalesce(ho.key, hn.key) AS key,
      |  CASE WHEN ho.key IS NULL THEN 'added'
      |       WHEN hn.key IS NULL THEN 'removed'
      |       WHEN ho.h = hn.h THEN 'unchanged' ELSE 'changed' END AS status
      |FROM ho FULL OUTER JOIN hn ON ho.key = hn.key""".stripMargin,
  ) { (s, d) =>
    val docs = documents(s, d)
    val v1   = docs.where(col("doc_id") % 7 =!= 0).select("doc_id", "text", "lang", "source")
    val v2 = docs
      .where(col("doc_id") % 5 =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit("!"))).otherwise(col("text"))
          .as("text"),
        col("lang"),
        col("source"),
      )
    graft.ops.Cdc.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang", "source"))
  }

  /** Per-source character-mass budgeted curation — the quota-by-MASS
    * twin of the reservoir quota-by-count sampler: docs ranked best-
    * first (longest, ties by id) per source, kept while the source's
    * cumulative char mass stays within budget. One exchange on source,
    * one window; the greedy-by-rank semantics is exactly what a
    * token-budgeted data-mix curation step runs. */
  private val charBudgetQ = Q(
    "ddp_char_budget",
    """SELECT doc_id, source, n_chars, cum_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
      |  FROM documents)
      |WHERE cum_chars <= 3000""".stripMargin,
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("cum_chars", sum(col("n_chars")).over(w).cast("long"))
      .filter(col("cum_chars") <= 3000)
  }

  val all: Seq[Q] =
    Seq(exactGroups, dedupCapped, dedupIncremental, dedupIncrementalFuzzy, containmentPairsQ,
      charBudgetQ,
      corpusDiffQ,
      chunkDedupQ,
      jaccardPairs,
      jaccardPairsPrefix,
      jaccardPairsAuto, minhashLsh, weightedJaccard,
      simhashSigs, simhashPairs, simhash64Pairs, simhash64Md5Pairs, jaccardComponents, dedupKeep,
      dedupKeepBest,
      semdedupBest, embeddingPairs,
      embeddingPairsMp, embeddingPairsIvf, embeddingPairsAuto, knnGraphQ, knnGraphAutoQ, clusterCohesionQ,
      knnClustersQ,
      decontaminate,
      decontaminateFuzzyQ, lshRecallEval, lshBandingSweep, corpusPrepare,
      corpusPrepareEmb, componentSplitQ, corpusMix, snmPairsQ, entityMatchQ, entityMatchJwQ,
      linkageReportQ)
}
